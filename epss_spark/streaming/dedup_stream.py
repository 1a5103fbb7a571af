"""Streaming incremental dedup — the continuous face of the nightly
minhash_index/minhash_lookup flow (a Spark-native extension; the reference
is strictly batch).

A crawl pipeline lands new document files continuously; each micro-batch
must be deduplicated against everything accepted so far WITHOUT
re-shingling the corpus. Structured Streaming's foreachBatch is the right
primitive: the lookup itself is a batch join against the persistent index
artifacts (band rows + shingle arrays on parquet), and the sink commits
both the surviving docs and their index rows per batch — so batch N+1
sees batch N's survivors, exactly like `dedup --method incremental
--update-index` on a timer, but driven by file arrival.

In-flight batch ordering: foreachBatch micro-batches execute serially, so
intra-stream duplicates are caught by the index update between batches,
plus drop_batch_duplicates inside each batch. State is bounded: nothing
lives in streaming state at all — the "state" IS the on-disk index.

Restart/retry idempotency (exactly-once effects): foreachBatch is
at-least-once — after a crash between the batch's writes and the
checkpoint commit, the whole batch REPLAYS with the same epoch_id. Plain
`mode("append")` writes would then land a second copy of the batch's
rows, which is fatal for row-COUNTING consumers (bm25_lookup derives N,
avgdl, df, tf from row counts) and subtly wrong even for the
membership-semantics dedup indexes (a replayed span batch would see its
own first-attempt gram fps as "indexed" and strip MORE text the second
time). This module therefore makes every batch write epoch-scoped and
every index read replay-deterministic:

- WRITES: each artifact (accepted docs, index rows, postings, stats) for
  epoch N goes to `<artifact_dir>/epoch-N/` with mode("overwrite") — a
  replay REPLACES the epoch's output instead of appending next to it.
- READS inside a batch: the index is read from the artifact's flat base
  files plus only the epoch dirs with epoch < N (`_read_committed`), so
  a replay of epoch N sees exactly what the first attempt saw — never
  its own partial output — and recomputes bit-identical results.
- CONSUMERS: `epoch-N` subdirs are deliberately NOT hive partitions
  (no schema change, and they can coexist with a flat batch-built
  layout in the same directory), but a plain `spark.read.parquet(dir)`
  ignores plain subdirectories — read maintained artifacts with
  `read_artifact(spark, dir)` (recursiveFileLookup), which handles
  flat, epoch-scoped, and mixed layouts identically.

One maintenance stream per artifact directory: epoch ids are scoped to a
checkpoint, so two concurrently-running queries writing the same
directory would collide on epoch dirs.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession

from epss_spark.operators import dedup


def stream_documents(
    spark: SparkSession,
    path: str,
    schema: str = "doc_id long, text string",
    max_files_per_trigger: int = 4,
) -> DataFrame:
    """readStream over a document-drop directory: new parquet files become
    micro-batches. The path is glob-escaped — Structured Streaming's file
    source globs like batch reads do (_glob_escape)."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(_glob_escape(path))
    )


# --------------------------------------------------------------------------
# epoch-scoped artifact layout
# --------------------------------------------------------------------------

_EPOCH_PREFIX = "epoch-"
# marker file inside an epoch dir whose presence declares "this epoch's
# rows are the FULL folded store state as of this epoch" — written by
# autocompact_epoch after the fold lands. Underscore-prefixed, so parquet
# readers treat it as hidden metadata.
_COMPACT_MARKER = "_COMPACTED"


def _epoch_dir(path: str, epoch_id: int) -> str:
    return os.path.join(path, f"{_EPOCH_PREFIX}{int(epoch_id)}")


def _glob_escape(path: str) -> str:
    """spark.read treats every path as a Hadoop glob pattern; a store
    path containing metacharacters (* ? [ ] { }) would glob instead of
    resolving literally — PATH_NOT_FOUND at best, a silent wrong match
    at worst. Backslash-escape them (Hadoop GlobPattern escaping) so
    reads see the literal directory. Writes and the Hadoop FileSystem
    API take paths literally and need no escaping."""
    return re.sub(r"([*?\[\]{}])", r"\\\1", path)


def _hadoop_fs(spark: SparkSession, path: str):
    sc = spark.sparkContext
    jvm = sc._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    return jvm, hpath.getFileSystem(sc._jsc.hadoopConfiguration())


def _write_epoch(df: DataFrame, path: str, epoch_id: int) -> None:
    """Idempotent per-epoch commit: overwrite `<path>/epoch-N`, so a
    foreachBatch replay of epoch N replaces the previous attempt's rows
    instead of appending a second copy."""
    df.write.mode("overwrite").parquet(_epoch_dir(path, epoch_id))


def _list_artifact(spark: SparkSession, path: str):
    """List an artifact directory through Spark's Hadoop filesystem layer
    (works for hdfs:// s3a:// file:// alike — a driver-local os.listdir
    would silently see nothing on remote stores). Returns
    (path_exists, has_flat_files,
     [(epoch_int, epoch_dir_path, is_compacted), ...]) sorted by epoch;
    is_compacted = the epoch dir carries the _COMPACTED marker, i.e. its
    rows are the full folded store state and everything older (flat base
    included) is subsumed.

    RPC budget: exactly three filesystem calls regardless of epoch count
    — exists + one listStatus + one globStatus over
    `<path>/epoch-*/_COMPACTED`. (A per-epoch marker exists() probe is
    up to compact_every extra HEAD round-trips per artifact per
    micro-batch on object stores like S3.) Exception: when the base path
    itself contains Hadoop glob metacharacters (* ? [ ] { }), globStatus
    would interpret them and silently match nothing — every compacted
    epoch would then read as a plain epoch and _read_committed would
    double-count the folded state against the dirs it subsumes. Such
    paths fall back to the metachar-safe per-epoch marker exists()
    probes (correctness over the RPC budget; pinned in
    tests/test_sinks_streaming.py)."""
    jvm, fs = _hadoop_fs(spark, path)
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    if not fs.exists(hpath):
        return False, False, []
    globbable = not any(c in path for c in "*?[]{}")
    compacted_dirs: set[str] = set()
    if globbable:
        glob = jvm.org.apache.hadoop.fs.Path(
            path.rstrip("/") + "/" + _EPOCH_PREFIX + "*/" + _COMPACT_MARKER
        )
        marked = fs.globStatus(glob)
        compacted_dirs = {
            st.getPath().getParent().getName() for st in (marked or [])
        }
    has_flat = False
    epochs = []
    for st in fs.listStatus(hpath):
        name = st.getPath().getName()
        if st.isDirectory():
            if name.startswith(_EPOCH_PREFIX):
                try:
                    e = int(name[len(_EPOCH_PREFIX):])
                except ValueError:
                    continue
                if globbable:
                    is_compacted = name in compacted_dirs
                else:
                    is_compacted = fs.exists(
                        jvm.org.apache.hadoop.fs.Path(
                            st.getPath(), _COMPACT_MARKER
                        )
                    )
                epochs.append((e, st.getPath().toString(), is_compacted))
        elif not name.startswith(("_", ".")):
            has_flat = True
    return True, has_flat, sorted(epochs)


def _read_committed(
    spark: SparkSession,
    path: str,
    before_epoch: int,
    empty_schema: str | None = None,
) -> DataFrame:
    """Read an index artifact as it stood BEFORE epoch `before_epoch`
    started: the flat base files (a batch-built index, or CLI
    --update-index appends) plus every epoch dir with epoch <
    before_epoch. Excluding the current epoch makes a foreachBatch replay
    deterministic — it can never read its own previous partial attempt.

    `empty_schema=None` means the artifact must already exist (the
    minhash stream's pre-built-index contract): a missing/empty path
    raises via the plain read. With a schema, missing/empty bootstraps
    to an empty frame (first batch of a self-building index).

    Compaction-aware: when a committed epoch carries the _COMPACTED
    marker (autocompact_epoch), its rows ARE the full state as of that
    epoch — the read starts there and takes only later epochs, ignoring
    the flat base and older dirs (which may still exist until the next
    GC pass deletes them; reading them too would double-count)."""
    exists, has_flat, epochs = _list_artifact(spark, path)
    committed = [(e, p, c) for e, p, c in epochs if e < before_epoch]
    compacted = [e for e, _, c in committed if c]
    if compacted:
        newest = max(compacted)
        paths = [p for e, p, _ in committed if e >= newest]
    else:
        paths = ([path] if has_flat else []) + [p for _, p, _ in committed]
    if not paths:
        future = sorted(e for e, _, _ in epochs if e > before_epoch)
        if future:
            # epochs STRICTLY after the one being processed is a replay
            # reading an index no first attempt could have seen —
            # impossible under one stream per dir; name the condition
            # instead of falling through to an opaque 'Unable to infer
            # schema' read
            raise RuntimeError(
                f"epoch-scoped artifact {path} holds epochs > "
                f"{before_epoch} ({future}): epoch {before_epoch} cannot "
                "have produced them under one maintenance stream per "
                "directory — two streams sharing this directory, or a "
                "checkpoint reset against a non-reset store?"
            )
        # Remaining non-empty case: the store holds EXACTLY epoch
        # `before_epoch` — the legitimate crash-replay of the store's
        # first non-empty epoch (first attempt wrote epoch-N, the
        # process died before the streaming checkpoint committed, the
        # restart replays N). The surviving dir is this replay's OWN
        # previous partial attempt, about to be overwritten by
        # _write_epoch — NOT committed state — so with a bootstrap
        # schema the correct read is the same empty frame the first
        # attempt saw. (Raising here wedged the stream permanently:
        # every retry re-raised. Pinned by the replay-of-first-epoch
        # tests in tests/test_sinks_streaming.py.)
        if empty_schema is None:
            if epochs:
                # pre-built-index contract (minhash stream): the flat
                # base should always pre-exist an epoch append — a
                # store with only this epoch's own attempt lost it
                raise RuntimeError(
                    f"epoch-scoped artifact {path} holds only epoch "
                    f"{before_epoch} (this replay's own in-flight "
                    "attempt) and no flat base files, but the caller "
                    "requires a pre-built index (empty_schema=None) — "
                    "was the base index deleted out from under the "
                    "maintenance stream?"
                )
            return spark.read.parquet(_glob_escape(path))
        return spark.createDataFrame([], empty_schema)
    return spark.read.parquet(*[_glob_escape(p) for p in paths])


def compact_artifact(
    spark: SparkSession,
    path: str,
    partition_by: str | None = None,
    num_files: int | None = None,
    transform=None,
) -> int:
    """Compact a stream-maintained artifact directory (flat base files +
    accumulated `epoch-N` subdirs) back into ONE flat layout — the
    periodic maintenance step that keeps file counts bounded under
    continuous epoch appends (DEPLOYMENT.md). Rewrites everything
    `read_artifact` sees into `<path>.compact-tmp`, then swaps via
    filesystem rename. Returns the number of rows compacted.

    `partition_by` restores a pruned layout (e.g. `list_id` for the
    IVF-PQ code table, so post-compaction searches scan n_probe lists
    again); `num_files` coalesces small epochs. A partitioned layout is
    the END-OF-STREAM serving shape: epoch appends into a
    hive-partitioned directory are unsupported (recursive lookup cannot
    recover partition columns from a mixed layout) — flat compaction
    (`partition_by=None`) is the one that composes with continued
    maintenance.

    ORDERING CONTRACT (loudly): run ONLY while no maintenance stream is
    writing the directory, and only after the stream drained/terminated
    CLEANLY (availableNow=True queries that returned, or a stopped
    query whose last epoch committed). A replay can only exist for an
    epoch whose checkpoint commit never landed; compacting such an
    epoch's rows into the flat base would double them when the restart
    replays it. Clean termination means no such epoch exists. The swap
    itself is rename-based — atomic on HDFS/POSIX, copy-like on object
    stores, either way invisible to the next stream start because the
    stream only APPENDS new epoch dirs.

    `transform` (DataFrame -> DataFrame, optional) rewrites THROUGH a
    semantic compaction instead of verbatim: e.g. a keep-latest store
    folds superseded versions away with
    `transform=lambda df: keep_latest(df, key, version, tiebreak)`.
    Only use transforms whose result is a fixpoint of the serving read
    (keep_latest is: latest_snapshot of the compacted store equals the
    pre-compaction view)."""
    df = read_artifact(spark, path)
    if transform is not None:
        df = transform(df)
    tmp = path.rstrip("/") + ".compact-tmp"
    if num_files:
        df = df.coalesce(int(num_files))
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(partition_by)
    writer.parquet(tmp)
    n = spark.read.parquet(_glob_escape(tmp)).count()

    # three-step swap so the serving path is readable at every instant:
    # park the old layout at `.compact-old`, rename the new one into
    # place, then delete the parked copy. A crash between the renames
    # leaves the data recoverable at a named sibling (and the failure
    # path below restores the old layout); the previous delete-then-
    # rename left a window with NO readable layout at `path`.
    sc = spark.sparkContext
    jvm = sc._jvm
    conf = sc._jsc.hadoopConfiguration()
    src = jvm.org.apache.hadoop.fs.Path(tmp)
    dst = jvm.org.apache.hadoop.fs.Path(path)
    old = jvm.org.apache.hadoop.fs.Path(path.rstrip("/") + ".compact-old")
    fs = dst.getFileSystem(conf)
    if fs.exists(old) and not fs.delete(old, True):
        raise IOError(f"compact_artifact: could not clear stale {old}")
    if not fs.rename(dst, old):
        raise IOError(
            f"compact_artifact: could not park old layout at {old}; "
            f"serving layout untouched, compacted data intact at {tmp}"
        )
    if not fs.rename(src, dst):
        # restore — leave the directory serveable; if even the restore
        # fails, say so truthfully and name where the data lives instead
        # of claiming a serveable path that does not exist
        if not fs.rename(old, dst):
            raise IOError(
                f"compact_artifact: rename {tmp} -> {path} failed AND the "
                f"parked old layout could not be restored — {path} is "
                f"ABSENT; old layout intact at {old}, compacted data at "
                f"{tmp}; rename one of them into place manually"
            )
        raise IOError(
            f"compact_artifact: rename {tmp} -> {path} failed; "
            f"old layout restored, compacted data intact at {tmp}"
        )
    fs.delete(old, True)
    return int(n)


def autocompact_epoch(
    spark: SparkSession,
    path: str,
    epoch_id: int,
    every: int | None,
    transform=None,
    merge_schema: bool = False,
) -> bool:
    """In-stream compaction: call at the END of a foreachBatch epoch,
    after the epoch's own `_write_epoch`. Every `every` epochs it (a)
    garbage-collects layout subsumed by the newest COMMITTED compaction
    marker — epoch dirs below it and the flat base — and (b) rewrites
    the store's full state (committed state before this epoch + this
    epoch's fresh rows, through `transform` if given) into THIS epoch's
    dir, marking it _COMPACTED. Keeps per-batch state reads O(every)
    instead of O(all epochs) for a long-running maintenance stream
    (readers are marker-aware: `_read_committed` / `read_artifact`
    start at the newest marker).

    Replay safety, spelled out:
    - the fold reads `_read_committed(epoch_id)` — never its own
      output — plus the epoch's freshly (re)written rows, so a replay
      recomputes the identical folded state;
    - the epoch's normal `_write_epoch` (mode overwrite) already wiped
      any first-attempt marker, so a half-replayed compaction epoch is
      read as a plain epoch until the fold re-lands;
    - GC deletes only dirs below a marker whose epoch < epoch_id —
      committed by foreachBatch's serial execution — and deleting them
      is idempotent and invisible to marker-aware readers;
    - the fold is staged OUTSIDE the store (`<path>.autocompact-N.tmp`,
      marker written inside BEFORE the swap) and the swap parks the
      pre-fold epoch dir at `<path>.autocompact-N.old`, so no reader —
      marker-aware or the recursive fallback — ever sees a half-landed
      full-state copy next to the state it folds, and a marker is never
      visible without its fold's rows. A crash mid-swap can only leave
      the IN-FLIGHT epoch dir absent — the checkpoint has not
      committed, so the restart replays the whole epoch from scratch
      (stale tmp is overwritten, a stale parked dir is cleared).

    `transform` must be a fixpoint of the serving read, same contract
    as `compact_artifact` (verbatim union for append-only fact stores —
    pass None; `keep_latest(df, key, version)` for snapshot stores).
    Returns True when a compaction ran."""
    if not every or int(epoch_id) <= 0 or int(epoch_id) % int(every) != 0:
        return False
    epoch_id = int(epoch_id)
    exists, has_flat, epochs = _list_artifact(spark, path)
    if not exists:
        return False
    cur = _epoch_dir(path, epoch_id)
    if epoch_id not in [e for e, _, _ in epochs]:
        # empty batch wrote nothing this epoch — compact next cadence hit
        return False

    jvm, fs = _hadoop_fs(spark, path)

    # (a) GC below the newest committed marker
    markers = [e for e, _, c in epochs if c and e < epoch_id]
    if markers:
        newest = max(markers)
        for e, p, _ in epochs:
            if e < newest:
                fs.delete(jvm.org.apache.hadoop.fs.Path(p), True)
        if has_flat:
            hpath = jvm.org.apache.hadoop.fs.Path(path)
            for st in fs.listStatus(hpath):
                name = st.getPath().getName()
                if not st.isDirectory() and not name.startswith(("_", ".")):
                    fs.delete(st.getPath(), False)

    # (b) fold committed-before state + this epoch's fresh rows into
    # this epoch's dir
    prior_paths = []
    committed = [(e, p, c) for e, p, c in epochs if e < epoch_id]
    comp = [e for e, _, c in committed if c]
    if comp:
        newest = max(comp)
        prior_paths = [p for e, p, _ in committed if e >= newest]
    else:
        prior_paths = ([path] if has_flat else []) + [p for _, p, _ in committed]
    # merge_schema: stores whose epochs may disagree on an optional
    # column (kmeans __xs) must fold the union schema — a sampled schema
    # would silently drop the column's data from the compacted state
    reader = spark.read
    if merge_schema:
        reader = reader.option("mergeSchema", "true")
    full = reader.parquet(*[_glob_escape(p) for p in prior_paths + [cur]])
    if transform is not None:
        full = transform(full)
    # tmp lives OUTSIDE the store: read_artifact's recursive fallback
    # (no marker anywhere yet — e.g. a crash during the FIRST-ever
    # compaction) must never see a half-landed full-state fold sitting
    # next to the state it folds, which would double every row
    tmp = path.rstrip("/") + f".autocompact-{epoch_id}.tmp"
    full.write.mode("overwrite").parquet(tmp)
    src = jvm.org.apache.hadoop.fs.Path(tmp)
    # the marker lands INSIDE tmp BEFORE the swap, so fold + marker
    # become visible in ONE rename — at no instant does the epoch dir
    # hold the full folded state while reading as a plain epoch (which
    # would double-count against the not-yet-GC'd base). The swap parks
    # the pre-fold epoch dir at a named sibling (also outside the
    # store) instead of deleting it, so a failed swap is restorable;
    # the remaining exposure is the one-rename gap where the IN-FLIGHT
    # (not yet checkpoint-committed) epoch dir is absent — the same
    # transient _write_epoch's own mode=overwrite already has.
    fs.create(jvm.org.apache.hadoop.fs.Path(src, _COMPACT_MARKER), True).close()
    dst = jvm.org.apache.hadoop.fs.Path(cur)
    old = jvm.org.apache.hadoop.fs.Path(
        path.rstrip("/") + f".autocompact-{epoch_id}.old"
    )
    if fs.exists(old) and not fs.delete(old, True):
        raise IOError(f"autocompact_epoch: could not clear stale {old}")
    if not fs.rename(dst, old):
        raise IOError(
            f"autocompact_epoch: could not park {cur} at {old}; epoch "
            "dir untouched — the stream must restart this epoch "
            "(checkpoint not committed)"
        )
    if not fs.rename(src, dst):
        if not fs.rename(old, dst):
            raise IOError(
                f"autocompact_epoch: rename {tmp} -> {cur} failed AND "
                f"the parked epoch could not be restored — {cur} is "
                f"ABSENT; pre-fold rows at {old}, fold at {tmp}; the "
                "stream must restart this epoch (checkpoint not "
                "committed)"
            )
        raise IOError(
            f"autocompact_epoch: rename {tmp} -> {cur} failed; parked "
            f"epoch restored, fold intact at {tmp}; the stream must "
            "restart this epoch (checkpoint not committed)"
        )
    fs.delete(old, True)
    return True


def read_artifact(
    spark: SparkSession, path: str, merge_schema: bool = False
) -> DataFrame:
    """Read a stream-maintained artifact directory (accepted docs, index
    rows, BM25 postings/doc_stats): flat base files and all committed
    `epoch-N` subdirs together. Plain `spark.read.parquet(dir)` ignores
    plain subdirectories, so consumers of maintained artifacts must use
    this (or pass recursiveFileLookup themselves). Works unchanged on a
    flat batch-built layout, and on a hive-partitioned layout (e.g.
    after `compact_artifact(partition_by=...)`) — when no epoch dirs are
    present the read is partition-aware, so the partition column and
    pruning survive. Do NOT mix hive partition dirs WITH epoch dirs in
    one directory: recursive lookup cannot recover partition columns
    (partitioned compaction is the end-of-stream serving layout).

    `merge_schema=True` unions the epoch files' schemas instead of
    sampling one file's — required by readers whose stores can hold
    epochs with and without an optional column (e.g. a kmeans store
    whose `__xs` audit column was added mid-lifetime): a sampled schema
    would silently DROP the column from the epochs that have it, while
    the merged read surfaces the old epochs as NULLs the reader can
    refuse loudly (kmeans_snapshot_checksum).

    Compaction-aware: with a _COMPACTED epoch present (autocompact_epoch),
    the read is the newest such epoch plus every later epoch — the flat
    base and older dirs are subsumed state awaiting GC, not data."""
    reader = spark.read
    if merge_schema:
        reader = reader.option("mergeSchema", "true")
    exists, _, epochs = _list_artifact(spark, path)
    if exists and not epochs:
        return reader.parquet(_glob_escape(path))
    compacted = [e for e, _, c in epochs if c]
    if compacted:
        newest = max(compacted)
        return reader.parquet(
            *[_glob_escape(p) for e, p, _ in epochs if e >= newest]
        )
    return reader.option("recursiveFileLookup", "true").parquet(
        _glob_escape(path)
    )


def _late_path(state_path: str) -> str:
    """Sibling artifact holding per-epoch dropped/late-row accounting for
    a maintained state store — one suffix rule shared by every stream
    that tracks ordering-contract violations (history)."""
    return state_path.rstrip("/") + ".late"


def read_late_counts(spark: SparkSession, state_path: str) -> DataFrame:
    """Per-epoch late-row accounting for `state_path`'s `.late` sibling:
    (epoch, n_late_events, n_late_keys) ordered by epoch — all-zero when
    the stream's ordering contract held."""
    return read_artifact(spark, _late_path(state_path)).orderBy("epoch")


# --------------------------------------------------------------------------
# per-batch processors (module-level so tests can replay an epoch directly)
# --------------------------------------------------------------------------


def process_minhash_batch(
    batch_df: DataFrame,
    epoch_id: int,
    bands_path: str,
    sh_path: str,
    accepted_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 12,
    bands: int = 4,
    threshold: float = 0.5,
    compact_every: int | None = 64,
) -> None:
    """One idempotent epoch of the minhash dedup stream: look the batch up
    against the index as of epochs < epoch_id, drop duplicates (indexed
    partner wins regardless of id order; batch twins drop greedily), and
    overwrite this epoch's accepted/bands/shingles partitions. Replaying
    the same (batch, epoch_id) reproduces identical output."""
    if batch_df.isEmpty():
        return
    spark = batch_df.sparkSession
    ib = _read_committed(spark, bands_path, epoch_id)
    ish = _read_committed(spark, sh_path, epoch_id)
    with dedup.shingle_cache(batch_df, id_col, text_col) as bshmap:
        pairs = dedup.minhash_lookup(
            batch_df,
            ib,
            ish,
            id_col,
            text_col,
            num_hashes=num_hashes,
            bands=bands,
            threshold=threshold,
            new_shmap=bshmap,
        )
        # persist the survivor set so the accepted write and the index
        # extension share ONE computation of the lookup + ACTION
        kept = dedup.drop_batch_duplicates(batch_df, pairs, id_col).persist()
        try:
            _write_epoch(kept, accepted_dir, epoch_id)
            # index hygiene: exactly one row set per id. A re-crawled
            # survivor (id already indexed) must NOT add fresh rows next
            # to its stale ones — duplicate ids make later verification
            # nondeterministic; refreshing content is an index rebuild/
            # compaction, not an append. Survivors' shingle arrays are
            # already in the batch cache, so reuse it instead of
            # re-normalizing/re-shingling the texts. (The epoch-scoped
            # reads above already exclude this epoch's own output, so no
            # read-your-own-write snapshot is needed.)
            indexed_ids = ish.select(id_col).distinct()
            fresh = kept.join(indexed_ids, id_col, "left_anti")
            fshmap = bshmap.join(fresh.select(id_col), id_col, "semi")
            kb, ks = dedup.minhash_index(
                fresh,
                id_col,
                text_col,
                num_hashes=num_hashes,
                bands=bands,
                shmap=fshmap,
            )
            _write_epoch(kb, bands_path, epoch_id)
            _write_epoch(ks, sh_path, epoch_id)
            for apath in (accepted_dir, bands_path, sh_path):
                autocompact_epoch(spark, apath, epoch_id, compact_every)
        finally:
            kept.unpersist()


def start_incremental_dedup(
    docs_stream: DataFrame,
    index_dir: str,
    accepted_dir: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 12,
    bands: int = 4,
    threshold: float = 0.5,
    compact_every: int | None = 64,
    available_now: bool = True,
):
    """Wire the stream into the incremental-dedup ACTION: per micro-batch,
    look the batch up against the on-disk index, drop duplicates, commit
    survivors to `accepted_dir`, and extend the index with their band
    rows + shingles — all via epoch-scoped overwrites, so a foreachBatch
    retry replays the epoch idempotently (module docstring).

    available_now=True drains the backlog and stops (the catch-up/nightly
    mode — same availableNow pattern as the scores streams); False keeps
    the query running for continuous arrival. Returns the StreamingQuery.

    Scale shape per batch: identical to the batch operator — the index
    side never re-shingles and its band rows never shuffle
    (minhash_lookup's broadcast-join formulation); the index update is
    O(survivors)."""
    bands_path = os.path.join(index_dir, "bands")
    sh_path = os.path.join(index_dir, "shingles")

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        process_minhash_batch(
            batch_df,
            epoch_id,
            bands_path,
            sh_path,
            accepted_dir,
            id_col,
            text_col,
            num_hashes=num_hashes,
            bands=bands,
            threshold=threshold,
            compact_every=compact_every,
        )

    writer = docs_stream.writeStream.foreachBatch(process_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def process_line_batch(
    batch_df: DataFrame,
    epoch_id: int,
    fps_path: str,
    accepted_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_line_chars: int = 1,
    compact_every: int | None = 64,
) -> None:
    """One idempotent epoch of the line dedup stream: drop every line the
    index (as of epochs < epoch_id) has seen, overwrite this epoch's
    accepted and fingerprint partitions. Replay-safe: a retried epoch
    never sees its own first attempt's fps, so the kept set is identical."""
    if batch_df.isEmpty():
        return
    spark = batch_df.sparkSession
    idx = _read_committed(spark, fps_path, epoch_id, empty_schema="line_fp string")
    kept, new_fps = dedup.dedup_batch_lines(
        batch_df, idx, id_col, text_col, min_line_chars
    )
    _write_epoch(kept, accepted_dir, epoch_id)
    _write_epoch(new_fps, fps_path, epoch_id)
    for apath in (accepted_dir, fps_path):
        autocompact_epoch(spark, apath, epoch_id, compact_every)


def start_incremental_line_dedup(
    docs_stream: DataFrame,
    index_dir: str,
    accepted_dir: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_line_chars: int = 1,
    compact_every: int | None = 64,
    available_now: bool = True,
):
    """The line-level sibling of `start_incremental_dedup`: per
    micro-batch, drop every line the on-disk fingerprint index has seen
    (operators/dedup.py::dedup_batch_lines), commit the reassembled
    surviving docs to `accepted_dir`, and commit the batch's new
    fingerprints to the index — so batch N+1 cannot re-admit batch N's
    lines. Epoch-scoped overwrites make retries idempotent (module
    docstring); foreachBatch's serial execution is the ordering
    guarantee; state is the on-disk index, nothing lives in streaming
    state.

    Scale shape per batch: O(batch lines) — one anti-join of the batch's
    exploded lines against the index scan plus the same two-exchange
    dedup/reassembly as the batch operator; the corpus text is never
    touched."""
    fps_path = os.path.join(index_dir, "line_fps")

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        process_line_batch(
            batch_df, epoch_id, fps_path, accepted_dir, id_col, text_col,
            min_line_chars, compact_every=compact_every,
        )

    writer = docs_stream.writeStream.foreachBatch(process_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def process_span_batch(
    batch_df: DataFrame,
    epoch_id: int,
    fps_path: str,
    accepted_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    compact_every: int | None = 64,
) -> None:
    """One idempotent epoch of the span dedup stream. The epoch-scoped
    index read matters MOST here: a replay against an index already
    holding the batch's own first-attempt gram fps would see its fresh
    spans as "indexed" and strip strictly more text, leaving two
    divergent copies of the same doc under a plain-append layout. Reading
    epochs < epoch_id and overwriting epoch partitions removes both
    failure modes."""
    if batch_df.isEmpty():
        return
    spark = batch_df.sparkSession
    idx = _read_committed(spark, fps_path, epoch_id, empty_schema="gram_fp string")
    kept, new_fps = dedup.dedup_batch_spans(batch_df, idx, k, id_col, text_col)
    _write_epoch(kept, accepted_dir, epoch_id)
    _write_epoch(new_fps, fps_path, epoch_id)
    for apath in (accepted_dir, fps_path):
        autocompact_epoch(spark, apath, epoch_id, compact_every)


def start_incremental_span_dedup(
    docs_stream: DataFrame,
    index_dir: str,
    accepted_dir: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    compact_every: int | None = 64,
    available_now: bool = True,
):
    """The span-level sibling of `start_incremental_line_dedup`: per
    micro-batch, remove every >= k-token span the on-disk gram-
    fingerprint index has seen (operators/dedup.py::dedup_batch_spans,
    Lee et al. 2022 semantics), commit the reassembled surviving docs to
    `accepted_dir`, and commit the batch's fresh gram fingerprints to
    the index — so batch N+1 cannot re-admit batch N's spans.
    Epoch-scoped overwrites make retries idempotent (module docstring);
    foreachBatch's serial execution is the ordering guarantee; state is
    the on-disk index, nothing lives in streaming state.

    Scale shape per batch: O(batch grams) — one join of the batch's gram
    rows against the index scan plus the batch operator's coverage/
    reassembly exchanges; the corpus text is never touched."""
    fps_path = os.path.join(index_dir, "gram_fps")

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        process_span_batch(
            batch_df, epoch_id, fps_path, accepted_dir, id_col, text_col, k,
            compact_every=compact_every,
        )

    writer = docs_stream.writeStream.foreachBatch(process_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def process_semantic_batch(
    batch_df: DataFrame,
    epoch_id: int,
    index_path: str,
    accepted_dir: str,
    centroids,
    threshold: float = 0.99,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    compact_every: int | None = 64,
    impl: str = "auto",
) -> None:
    """One idempotent epoch of the SEMANTIC dedup stream
    (operators/similarity.py::dedup_batch_semantic — the embedding-space
    sibling of the minhash/line/span maintenance batches): drop every
    batch vector with a cosine >= threshold cell-mate in the index as of
    epochs < epoch_id (corpus-first) or a smaller-id in-batch cell-mate
    (greedy), commit the survivors to `accepted_dir` and their
    (cell, id, vector) index rows to `index_path`. Replay-safe: a
    retried epoch never sees its own first attempt's index rows, so the
    kept set is identical. The centroid model is the index's scheme and
    must stay FROZEN for the stream's lifetime (re-celling the space
    means rebuilding the index — same contract as changing LSH
    planes)."""
    if batch_df.isEmpty():
        return
    from epss_spark.operators import similarity

    spark = batch_df.sparkSession
    idx = _read_committed(
        spark, index_path, epoch_id,
        empty_schema=f"cell int, {id_col} long, {vec_col} array<float>",
    )
    kept, new_rows = similarity.dedup_batch_semantic(
        batch_df, idx, centroids, threshold, id_col, vec_col, impl
    )
    _write_epoch(kept, accepted_dir, epoch_id)
    _write_epoch(new_rows, index_path, epoch_id)
    for apath in (accepted_dir, index_path):
        autocompact_epoch(spark, apath, epoch_id, compact_every)


def start_incremental_semantic_dedup(
    vec_stream: DataFrame,
    index_dir: str,
    accepted_dir: str,
    checkpoint_dir: str,
    centroids,
    threshold: float = 0.99,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    compact_every: int | None = 64,
    available_now: bool = True,
    impl: str = "auto",
):
    """The embedding-space sibling of `start_incremental_dedup` /
    `start_incremental_line_dedup`: per micro-batch, drop every vector
    the on-disk (cell, id, vector) index already semantically covers,
    commit survivors to `accepted_dir`, and append their index rows —
    so batch N+1 cannot re-admit a near-duplicate of batch N. State is
    the on-disk index (restartable, epoch-scoped, idempotent under
    replay); the coarse assignment rides the dual-path dispatch, so a
    production-k scheme never builds the interpreted expression tree.

    Scale shape per batch: O(batch x cell density) — one broadcast-side
    cell join of the batch against the index scan plus the in-batch
    cell expansion; the accumulated corpus never re-assigns."""
    index_path = os.path.join(index_dir, "semantic_cells")

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        process_semantic_batch(
            batch_df, epoch_id, index_path, accepted_dir, centroids,
            threshold, id_col, vec_col, compact_every=compact_every,
            impl=impl,
        )

    writer = vec_stream.writeStream.foreachBatch(process_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def process_bm25_batch(
    batch_df: DataFrame,
    epoch_id: int,
    postings_path: str,
    stats_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    compact_every: int | None = 64,
) -> None:
    """One idempotent epoch of BM25 index maintenance. Idempotency is
    load-bearing here, not hygiene: bm25_lookup COUNTS rows (N, avgdl
    from doc_stats; df, tf from postings — operators/retrieval.py:
    bm25_lookup), so a plain-append retry would double-count the batch
    and silently corrupt every future score. Epoch-overwrite makes the
    retry a no-op-equivalent replacement."""
    if batch_df.isEmpty():
        return
    from epss_spark.operators import retrieval

    postings, doc_stats = retrieval.bm25_index(batch_df, id_col, text_col)
    _write_epoch(postings, postings_path, epoch_id)
    _write_epoch(doc_stats, stats_path, epoch_id)
    spark = batch_df.sparkSession
    for apath in (postings_path, stats_path):
        autocompact_epoch(spark, apath, epoch_id, compact_every)


def process_keep_latest_batch(
    batch_df: DataFrame,
    epoch_id: int,
    store_path: str,
    key_cols,
    version_col: str,
    tiebreak_col: str | None = None,
    compact_every: int | None = 64,
) -> None:
    """One idempotent epoch of latest-snapshot store maintenance: compact
    the batch to one row per key (operators/dedup.py::keep_latest) and
    commit it epoch-scoped. Idempotency here is belt-and-braces rather
    than load-bearing: the serving read (`latest_snapshot`) merges with
    a per-key MAX — idempotent, commutative, associative — so even a
    plain-append replay could never corrupt the view; the epoch
    overwrite just keeps storage from growing under retries."""
    if batch_df.isEmpty():
        return
    _write_epoch(
        dedup.keep_latest(batch_df, key_cols, version_col, tiebreak_col),
        store_path,
        epoch_id,
    )
    autocompact_epoch(
        batch_df.sparkSession,
        store_path,
        epoch_id,
        compact_every,
        transform=lambda df: dedup.keep_latest(
            df, key_cols, version_col, tiebreak_col
        ),
    )


def latest_snapshot(
    spark: SparkSession,
    store_path: str,
    key_cols,
    version_col: str,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Serving view of a stream-maintained keep-latest store: flat base +
    every committed epoch, merged to one row per key. Each epoch is
    already per-batch compacted, so the merge input is bounded by
    (keys x epochs since last compaction); fold superseded versions away
    periodically with
    `compact_artifact(spark, store, transform=lambda df:
    keep_latest(df, ...))`."""
    return dedup.keep_latest(
        read_artifact(spark, store_path), key_cols, version_col, tiebreak_col
    )


def start_keep_latest_maintenance(
    snapshots_stream: DataFrame,
    store_dir: str,
    checkpoint_dir: str,
    key_cols,
    version_col: str,
    tiebreak_col: str | None = None,
    compact_every: int | None = 64,
    available_now: bool = True,
):
    """Continuous crawl-compaction: per micro-batch of re-fetched
    snapshots (canonical URL key + fetch sequence, or any SCD-1 /
    changelog shape), commit the batch's newest-row-per-key to the store
    via epoch-scoped overwrites; serve the current state with
    `latest_snapshot`. The batch-mode equivalent is one
    `keep_latest(all_snapshots, ...)` — the stream == sequential-batch
    equivalence is pinned in tests, same contract as the dedup and index
    streams.

    Scale shape per batch: one aggregate shuffle over the BATCH only
    (map-side partial max); nothing reads the existing store at
    maintenance time — merge costs land on readers, bounded by the
    compaction cadence."""
    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        process_keep_latest_batch(
            batch_df, epoch_id, store_dir, key_cols, version_col, tiebreak_col,
            compact_every=compact_every,
        )

    writer = snapshots_stream.writeStream.foreachBatch(process_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def process_ann_batch(
    batch_df: DataFrame,
    epoch_id: int,
    index_path: str,
    coarse_centroids: list,
    pq_centroids: list,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    compact_every: int | None = 64,
) -> None:
    """One idempotent epoch of IVF-PQ index maintenance: encode the
    batch's vectors to (id, list_id, codes) against the FROZEN quantizer
    and epoch-overwrite. Codes are per-vector facts (like BM25 terms) —
    no read-modify-write, no cross-batch state — so the replay argument
    is the simple one: same input + same frozen model = same rows,
    overwrite replaces them."""
    if batch_df.isEmpty():
        return
    from epss_spark.operators import similarity

    idx = similarity.ivfpq_index(
        batch_df, coarse_centroids, pq_centroids, id_col, vec_col
    )
    _write_epoch(idx, index_path, epoch_id)
    autocompact_epoch(batch_df.sparkSession, index_path, epoch_id, compact_every)


def start_ann_index_maintenance(
    vectors_stream: DataFrame,
    index_dir: str,
    checkpoint_dir: str,
    coarse_centroids: list,
    pq_centroids: list,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    compact_every: int | None = 64,
    available_now: bool = True,
):
    """Continuous IVF-PQ index maintenance: per micro-batch of new
    embeddings, encode (id, list_id, codes) rows against a FROZEN
    quantizer (coarse centroids + PQ codebooks are a model artifact —
    train once offline on a sample, retrain = rebuild, exactly like any
    production ANN system) and commit them to the index directory via
    epoch-scoped overwrites (idempotent under foreachBatch retry —
    module docstring). Search with
    `ivfpq_topk(..., index=read_artifact(spark, index_dir))`, optionally
    re-ranked with `rerank_exact` — the index is current the moment a
    batch lands.

    Scale shape per batch: ONE zero-shuffle codegen projection over the
    batch (both quantizer assignments are plan-time-constant argmins);
    nothing reads the existing index at maintenance time. At 100 TB the
    artifact is ~20 B/vector; compact epoch dirs into a list_id-
    partitioned layout periodically if file counts grow."""
    index_path = os.path.join(index_dir, "ivfpq")

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        process_ann_batch(
            batch_df, epoch_id, index_path, coarse_centroids, pq_centroids,
            id_col, vec_col, compact_every=compact_every,
        )

    writer = vectors_stream.writeStream.foreachBatch(process_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def start_bm25_index_maintenance(
    docs_stream: DataFrame,
    index_dir: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    compact_every: int | None = 64,
    available_now: bool = True,
):
    """Continuous lexical-index maintenance: per micro-batch, commit the
    batch's postings (term, id, tf) and doc_stats (id, dl) to the BM25
    index artifacts (operators/retrieval.py::bm25_index) via epoch-scoped
    overwrites (idempotent under foreachBatch retry — module docstring;
    read the artifacts back with `read_artifact`). Terms are per-document
    facts, so epochs need no read-modify-write and no cross-batch state
    at all — the simplest of the index streams; the bounded N/avgdl/df
    statistics are computed at QUERY time by bm25_lookup, so the index is
    always current the moment a batch lands. Upstream dedup streams
    should run first (index accepted docs, not raw crawl).

    Scale shape per batch: one tokenize pass + one (term, id) aggregate
    over the batch only."""
    postings_path = os.path.join(index_dir, "postings")
    stats_path = os.path.join(index_dir, "doc_stats")

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        process_bm25_batch(
            batch_df, epoch_id, postings_path, stats_path, id_col, text_col,
            compact_every=compact_every,
        )

    writer = docs_stream.writeStream.foreachBatch(process_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()

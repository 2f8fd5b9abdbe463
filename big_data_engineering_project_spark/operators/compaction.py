"""Directories through the Hadoop FileSystem: the listing, delete and
marker helpers, the one crash-safe directory swap, and small-file
compaction for directory-per-batch persisted artifacts.

Every directory operation of the persisted indexes and the stream
state goes through `_hadoop_fs`, the session's Hadoop FileSystem, so
the same code runs on file://, hdfs://, s3a://, abfs://.

The swap replaces a whole directory (a stream runner's state table,
a compacted artifact, a refit IVF index) without ever leaving readers
a half-written one:

1. the new version is written in full to `<root>.swap-tmp`
   (`_swap_stage` clears and names it) while readers keep the intact
   root;
2. `_swap_in` renames root → `<root>.swap-old`, then the staged copy
   → root, then deletes `.swap-old`. Hadoop's rename reports failure
   by returning False, not by raising (on s3a/abfs a directory rename
   is a copy and a delete and can fail midway), so every rename is
   checked: a failed second rename renames the old root back and
   raises, and `.swap-old` is deleted only once the new root exists;
3. a crash between the two renames leaves root absent and the
   complete old copy under `.swap-old`. `_swap_restore` renames it
   back; readers of state and the swap itself call it first.

`compact_batches` is the maintenance operator that closes the
directory-per-batch loop. Every streamed index/manifest maintainer in
this engine appends one `batch=<lineage>-<id>` directory per
micro-batch (streaming/scd2.py: run_bm25_index_stream,
run_minhash_index_stream, run_mix_stream, run_decontam_stream and the
IVF/IVF-PQ `ivf_index_append` family). That is the right WRITE shape —
replays overwrite only themselves — but the wrong long-run READ shape:
a week-long stream at one batch per second accumulates ~600k tiny
directories, and every serve then pays the object-store listing +
parquet-footer tax for all of them (the classic small-file problem; on
S3 the LIST calls alone dominate). It collapses all `batch=*` children
of one artifact root into a single `batch=<base_tag>` directory and
swaps it in. Contents are IDENTICAL before and after (same rows, fewer
files), so every serve path — bm25_from_index, MinHash pair/band
reads, mix-manifest reads, IVF partition-pruned probes — is unchanged
bit-for-bit (pytest-pinned per artifact in tests/test_compaction.py).

Operational contract (both inherited from the index lifecycle):

- SINGLE WRITER: compaction must not race an append or a running
  stream maintainer (`_next_free_batch_tag`'s hard requirement).
- CLEAN STOP for streamed artifacts: run it only when the stream's
  checkpoint has committed past every batch directory present. A
  replayed micro-batch is exactly-once because it overwrites its OWN
  directory; if that directory has been absorbed into base and
  removed, a replay would APPEND a duplicate instead. Stopping the
  stream, compacting, then restarting (the IVF refit stop-the-ingest
  discipline) makes the window empty: availableNow triggers commit
  their checkpoint before terminating.
"""

from __future__ import annotations

import posixpath


def _hadoop_fs(spark, path: str):
    """(FileSystem, Path) for `path` resolved through the session's
    Hadoop configuration — the seam every directory operation goes
    through so the SAME code runs against file://, hdfs://, s3a://,
    abfs://... A driver-local os.listdir/shutil.rmtree only exists on
    POSIX paths."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath


def _fs_list(spark, path: str) -> dict[str, bool]:
    """{name: is_directory} for every child of `path`; an absent path
    has none."""
    fs, jpath = _hadoop_fs(spark, path)
    if not fs.exists(jpath):
        return {}
    return {st.getPath().getName(): st.isDirectory() for st in fs.listStatus(jpath)}


def _fs_list_batches(spark, vectors_dir: str) -> list[str]:
    """Sorted tags of the existing `batch=<tag>` child directories
    under `vectors_dir`; an absent dir is simply zero batches."""
    return sorted(
        name[len("batch=") :]
        for name, is_dir in _fs_list(spark, vectors_dir).items()
        if is_dir and name.startswith("batch=")
    )


def _next_free_batch_tag(spark, parent_dir: str) -> str:
    """Default append tag: start at d<number-of-existing-batches> and
    probe FORWARD past any taken name — an explicitly-tagged or
    stream-written batch can occupy the count-based name, and
    overwriting it would silently drop that batch's vectors (r10
    ADVICE #2). Shared by the IVF, IVF-PQ, and residual-IVF-PQ
    appends.

    HARD REQUIREMENT — single writer per index: the probe is
    check-then-write, so two CONCURRENT appenders (or an append racing
    a stream maintainer) can both claim the same free d<n> and one
    batch's mode=overwrite write silently clobbers the other's (r11
    ADVICE #2). Appends, streamed appends, rebuilds, and compactions
    against one index path must be serialized by the caller — the same
    single-writer discipline every directory-layout index (Delta
    without a commit service, raw FAISS shards) imposes. Concurrent
    READS are safe against APPENDS (a writer never mutates an
    existing batch directory) — but NOT against a swap, which renames
    the whole root away for a window and, in compact_batches, deletes
    absorbed batch directories afterward (r12 ADVICE #2): readers
    racing a compaction or refit must be quiesced, or tolerate a
    transient missing-path retry."""
    existing = set(_fs_list_batches(spark, parent_dir))
    n = len(existing)
    while f"d{n}" in existing:
        n += 1
    return f"d{n}"


def _fs_delete(spark, path: str) -> None:
    """Recursive delete through the Hadoop FileSystem API (the
    rmtree analog that also exists on HDFS/S3); absent → no-op."""
    fs, jpath = _hadoop_fs(spark, path)
    if fs.exists(jpath):
        fs.delete(jpath, True)


def _fs_read_text(spark, path: str) -> str | None:
    """The UTF-8 text of the file at `path`, or None when absent."""
    fs, jpath = _hadoop_fs(spark, path)
    if not fs.exists(jpath):
        return None
    stream = fs.open(jpath)
    try:
        return bytes(stream.readAllBytes()).decode()
    finally:
        stream.close()


def _fs_write_text(spark, path: str, text: str) -> None:
    """Write `text` as UTF-8 to the file at `path`, replacing it."""
    fs, jpath = _hadoop_fs(spark, path)
    stream = fs.create(jpath, True)
    try:
        stream.write(bytearray(text.encode()))
    finally:
        stream.close()


def _swap_stage(spark, root: str) -> str:
    """`<root>.swap-tmp`, cleared: where the new version of `root` is
    written in full before `_swap_in` promotes it."""
    tmp = root + ".swap-tmp"
    _fs_delete(spark, tmp)
    return tmp


def _swap_restore(spark, root: str) -> bool:
    """Whether `root` exists, after renaming `<root>.swap-old` back
    when a crash between `_swap_in`'s two renames left root absent."""
    fs, jroot = _hadoop_fs(spark, root)
    if fs.exists(jroot):
        return True
    bak = root + ".swap-old"
    jbak = spark._jvm.org.apache.hadoop.fs.Path(bak)
    if not fs.exists(jbak):
        return False
    if not fs.rename(jbak, jroot):
        raise IOError(
            f"swap restore: rename {bak} -> {root} failed; restore it "
            "manually before reading or writing"
        )
    return True


def _swap_in(spark, root: str) -> None:
    """Promote the fully-written `<root>.swap-tmp` to `root` by two
    checked renames (module docstring). Raises IOError, saying which
    copy is where, when a rename fails."""
    tmp, bak = root + ".swap-tmp", root + ".swap-old"
    fs, jroot = _hadoop_fs(spark, root)
    path = spark._jvm.org.apache.hadoop.fs.Path
    jtmp, jbak = path(tmp), path(bak)
    had_root = _swap_restore(spark, root)
    _fs_delete(spark, bak)
    if had_root and not fs.rename(jroot, jbak):
        raise IOError(f"swap: rename {root} -> {bak} failed; {root} untouched")
    if not fs.rename(jtmp, jroot):
        # put the old copy back — never leave root absent. The recovery
        # rename can ALSO fail, so the message states where each copy
        # really is (r12 ADVICE #1).
        if not had_root:
            where = f"{root} was absent and still is"
        elif fs.rename(jbak, jroot):
            where = f"the old copy is back at {root}"
        else:
            where = f"{root} is ABSENT and the old copy is in {bak}"
        raise IOError(
            f"swap: rename {tmp} -> {root} failed; the new copy is in "
            f"{tmp} and {where}"
        )
    if fs.exists(jroot):
        _fs_delete(spark, bak)


def count_files(spark, path: str) -> int:
    """Recursive file count under `path` through the Hadoop FileSystem
    seam — the listing a serve actually pays on an object store (data
    files and _SUCCESS/checksum markers alike); absent path → 0. The
    number the compaction tests assert DROPS."""
    fs, jpath = _hadoop_fs(spark, path)
    if not fs.exists(jpath):
        return 0
    n = 0
    it = fs.listFiles(jpath, True)
    while it.hasNext():
        it.next()
        n += 1
    return n


def compact_batches(
    spark,
    root: str,
    partition_by: tuple[str, ...] = (),
    base_tag: str = "base",
    transform=None,
    n_files: int = 1,
) -> dict:
    """Collapse every `batch=<tag>` child of `root` into one
    `batch=<base_tag>` directory holding the identical rows, swapped
    in by the module's swap. Returns
    {"compacted": bool, "n_batches": int, "files_before": int,
    "files_after": int}.

    `partition_by` preserves an inner partition layout through the
    rewrite — the IVF/IVF-PQ code tables are `batch=*/cell=N/...` and
    the serve's partition pruning on `cell` must survive compaction,
    so pass ("cell",). The rewrite repartitions on those columns
    before the partitioned write (the `_assign_cells` small-file
    discipline: without it every input task writes a sliver into
    every cell directory). Unpartitioned artifacts coalesce to a
    single file per root — at 100 TB raise the parallelism by
    repartitioning on a real column instead; the artifacts this
    compacts (postings, band rows, manifests) are index-sized, not
    corpus-sized, so one file per root is the honest default.
    `n_files` > 1 writes that many files instead, for a base that a
    reader scans whole on every micro-batch (the hot path's author
    totals): one file would be one scan task.

    `transform` (optional, df -> df) rewrites the rows on the way
    through — the seam vector_index_vacuum uses to apply delete
    tombstones physically during the compaction pass. With a
    transform, a lone `batch=<base_tag>` is still rewritten (the
    filter must apply to every batch); without one it stays a no-op.

    No-ops (compacted=False) when the root is absent, empty, or
    already a lone `batch=<base_tag>` with no transform. A crash
    between an earlier swap's renames is healed first
    (`_swap_restore`), and a no-op on an intact root reclaims the
    stale `.swap-old` and `.swap-tmp` siblings such a crash, or one
    after the second rename, left behind (r12 review finding)."""
    root_exists = _swap_restore(spark, root)
    tags = _fs_list_batches(spark, root)
    files_before = count_files(spark, root)
    stats = {
        "compacted": False,
        "n_batches": len(tags),
        "files_before": files_before,
        "files_after": files_before,
    }
    if not tags or (tags == [base_tag] and transform is None):
        if root_exists:
            _fs_delete(spark, root + ".swap-old")
            _fs_delete(spark, root + ".swap-tmp")
        return stats
    df = spark.read.parquet(root).drop("batch")
    if transform is not None:
        df = transform(df)
    dest = posixpath.join(_swap_stage(spark, root), f"batch={base_tag}")
    if partition_by:
        (
            df.repartition(*partition_by)
            .write.mode("overwrite")
            .partitionBy(*partition_by)
            .parquet(dest)
        )
    else:
        df = df.coalesce(1) if n_files == 1 else df.repartition(n_files)
        df.write.mode("overwrite").parquet(dest)
    _swap_in(spark, root)
    stats["compacted"] = True
    stats["files_after"] = count_files(spark, root)
    return stats


def compact_bm25_index(spark, index_path: str) -> dict:
    """Compact both tables of a streamed BM25 index
    (run_bm25_index_stream's postings/ + doclens/ batch directories).
    Serving through bm25_from_index is bit-identical after."""
    return {
        sub: compact_batches(spark, posixpath.join(index_path, sub))
        for sub in ("postings", "doclens")
    }


def compact_minhash_index(spark, index_path: str) -> dict:
    """Compact all three tables of a streamed MinHash-LSH index
    (run_minhash_index_stream's bands/ + shingles/ + pairs/ batch
    directories). The maintained pair set and any later batch's
    new-vs-corpus probe read the same rows after."""
    return {
        sub: compact_batches(spark, posixpath.join(index_path, sub))
        for sub in ("bands", "shingles", "pairs")
    }


def compact_vector_index(spark, index_path: str, table: str = "vectors") -> dict:
    """Compact the cell-partitioned batch directories of a persisted
    ANN index — `vectors/` for the IVF index, `codes/` for the IVF-PQ
    and residual-IVF-PQ indexes — WITHOUT touching the frozen
    centroids/codebooks (the cheap lifecycle step between appends;
    `ivf_index_rebuild_swap` is the expensive one that also refits).
    The inner cell=N layout is preserved so partition-pruned serves
    keep pruning."""
    return {
        table: compact_batches(
            spark, posixpath.join(index_path, table), partition_by=("cell",)
        )
    }

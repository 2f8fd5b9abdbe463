"""Small-file compaction for directory-per-batch persisted artifacts.

Every streamed index/manifest maintainer in this engine appends one
`batch=<lineage>-<id>` directory per micro-batch (the exactly-once-by-
construction discipline of streaming/scd2.py:run_bm25_index_stream,
run_minhash_index_stream, run_mix_stream, run_decontam_stream and the
IVF/IVF-PQ `ivf_index_append` family). That is the right WRITE shape —
replays overwrite only themselves — but the wrong long-run READ shape:
a week-long stream at one batch per second accumulates ~600k tiny
directories, and every serve then pays the object-store listing +
parquet-footer tax for all of them (the classic small-file problem; on
S3 the LIST calls alone dominate).

`compact_batches` is the maintenance operator that closes the loop: it
collapses all `batch=*` children of one artifact root into a single
`batch=<base_tag>` directory and swaps it in atomically — the
generalization of `ivf_index_rebuild_swap`'s base-collapse + two-rename
swap (operators/similarity.py), minus the centroid refit. Contents are
IDENTICAL before and after (same rows, fewer files), so every serve
path — bm25_from_index, MinHash pair/band reads, mix-manifest reads,
IVF partition-pruned probes — is unchanged bit-for-bit (pytest-pinned
per artifact in tests/test_compaction.py).

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

Crash safety: the new base is fully written to `<root>.compact-tmp`
while readers keep the intact root; the swap is two FileSystem renames
(atomic per rename on HDFS-like stores). A crash between the renames
leaves `<root>.swap-old` (the complete old artifact) and possibly the
complete tmp; the next compact_batches call self-heals by renaming the
old artifact back before starting over. All directory operations go
through the Hadoop FileSystem seam, so the same code runs on file://,
hdfs://, s3a://.
"""

from __future__ import annotations

import posixpath

from big_data_engineering_project_spark.operators.similarity import (
    _fs_delete,
    _fs_list_batches,
    _hadoop_fs,
)


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
    in atomically (build-aside + two renames). Returns
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
    already a lone `batch=<base_tag>` with no transform."""
    bak = root + ".swap-old"
    tmp = root + ".compact-tmp"
    fs, jroot = _hadoop_fs(spark, root)
    jvm = spark._jvm
    jbak = jvm.org.apache.hadoop.fs.Path(bak)
    # self-heal a crash between the two swap renames: the old artifact
    # is complete under .swap-old — put it back and redo the compaction
    # from scratch (the tmp, if complete, is simply rebuilt).
    if not fs.exists(jroot) and fs.exists(jbak):
        if not fs.rename(jbak, jroot):
            raise IOError(
                f"compact_batches self-heal: rename {bak} -> {root} "
                "failed; restore manually before compacting"
            )
    tags = _fs_list_batches(spark, root)
    files_before = count_files(spark, root)
    stats = {
        "compacted": False,
        "n_batches": len(tags),
        "files_before": files_before,
        "files_after": files_before,
    }
    if not tags or (tags == [base_tag] and transform is None):
        # no-op — but a crash between the swap's second rename and the
        # bak delete leaves a complete stale copy under .swap-old (and
        # possibly .compact-tmp) that would otherwise persist FOREVER
        # on a quiesced artifact (r12 review finding): with root intact
        # and already compacted, both siblings are safe to reclaim.
        if fs.exists(jroot):
            _fs_delete(spark, bak)
            _fs_delete(spark, tmp)
        return stats
    _fs_delete(spark, tmp)
    df = spark.read.parquet(root).drop("batch")
    if transform is not None:
        df = transform(df)
    dest = posixpath.join(tmp, f"batch={base_tag}")
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
    # Two-rename atomic swap (ivf_index_rebuild_swap discipline).
    # Hadoop FileSystem.rename reports failure by returning FALSE, not
    # by raising (s3a/abfs renames are copy+delete and can fail
    # mid-flight) — every return is checked, and .swap-old is deleted
    # ONLY after the new root verifiably exists: ignoring a failed
    # second rename and deleting bak anyway would destroy the only
    # recoverable copy (r12 review finding).
    _fs_delete(spark, bak)
    if not fs.rename(jroot, jbak):
        raise IOError(
            f"compact_batches: rename {root} -> {bak} failed; artifact "
            "untouched, compaction aborted"
        )
    if not fs.rename(jvm.org.apache.hadoop.fs.Path(tmp), jroot):
        # put the old artifact back — never leave root absent. The
        # recovery rename can ALSO fail (copy+delete renames on
        # s3a/abfs); claiming "restored" when root is actually absent
        # would misdirect the operator's manual recovery (r12 ADVICE
        # #1), so the message states which state the artifact is
        # really in.
        if fs.rename(jbak, jroot):
            raise IOError(
                f"compact_batches: rename {tmp} -> {root} failed; old "
                "artifact restored, compacted copy left in .compact-tmp"
            )
        raise IOError(
            f"compact_batches: rename {tmp} -> {root} failed AND the "
            f"recovery rename {bak} -> {root} failed — root is ABSENT; "
            f"manually restore from {bak} (complete old artifact) or "
            f"{tmp} (complete compacted copy)"
        )
    if fs.exists(jroot):
        _fs_delete(spark, bak)
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

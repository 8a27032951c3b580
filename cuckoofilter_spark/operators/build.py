"""Distributed filter/sketch build: the one per-partition build →
deterministic tree-merge driver behind every global filter and sketch.

This is the Spark-native replacement for the reference's single-threaded
insert loop (``Demo/cf_demo.cpp:16-27``) and the distributed analog of DCF
chain growth + compaction (SURVEY.md §3.3).  Every global build has two
steps:

1. the leaf: each input partition (or each planned file split) folds its
   Arrow record batches into one partial — a ``DynamicCuckooFilter`` or any
   ``Sketch`` — with NumPy batch kernels, no per-row Python, and emits one
   ``BLOB_SCHEMA`` row (``mapInArrow``);
2. ``tree_merge_blobs``: a **deterministic merge tree**.  Blobs are grouped
   by ``partition_id // fanin`` and each group is folded in ascending
   partition-id order inside ``applyInArrow`` (the blobs are plain binary,
   so no pandas round trip); the driver folds the last ≤ fanin blobs in the
   same order.  Unlike ``RDD.treeAggregate`` (whose reduce order follows
   task completion), the tree shape and fold order here are pure functions
   of the partition ids — the same at local[8] and local[32], which is what
   makes "identical estimates at N and 4N executors" (north_rule) hold by
   construction rather than by commutativity luck.

The merge tree is parameterized only by the blob codec: CKF2 filter blobs
(``FILTER_CODEC``) or tagged sketch blobs (``sketch_build.SKETCH_CODEC``);
the cuckoo filter rides the sketch path as ``CuckooSketch``.

Scale notes (100 TB / ~10^6 input partitions):
- stage 1 emits ONE row (a few hundred KB zlib-packed) per input partition —
  the shuffle into the merge stage moves sketch state, never data rows;
- each merge level reduces the blob count by ``fanin`` (64): 10^6 blobs →
  3 levels; level parallelism = n_blobs/fanin tasks, all executor-side;
- the driver only ever folds the final ≤ fanin blobs;
- column pruning: we select only the key column(s) before the UDF, so the
  parquet/Iceberg scan reads one column (check ``ReadSchema`` in explain).
"""

from __future__ import annotations

import importlib
from collections.abc import Callable, Iterable, Iterator
from typing import NamedTuple

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cuckoofilter_spark.core.dynamic_filter import DynamicCuckooFilter
# FILTER_CODEC looks both up in this module's globals
from cuckoofilter_spark.core.serde import deserialize_filter, serialize_filter  # noqa: F401
from cuckoofilter_spark.params import CuckooParams

BLOB_SCHEMA = "pid long, blob binary, n_rows long, n_items long"

#: row-group splitting cutoff for the pyarrow-direct build: a CONSTANT so
#: split granularity is a pure function of the data layout, never of
#: cluster size (the merge tree must be identical at N and 4N executors)
ROW_GROUP_SPLIT_MAX_FILES = 48


class BlobCodec(NamedTuple):
    """A blob codec, named by the module whose globals hold its encode and
    decode functions.  Both are looked up at call time: the driver-side
    fold goes through whatever the module attribute is when it runs, and
    executors resolve them in their own import of the module."""

    module: str
    encode: str
    decode: str

    def dumps(self, obj) -> bytes:
        return getattr(importlib.import_module(self.module), self.encode)(obj)

    def loads(self, blob: bytes):
        return getattr(importlib.import_module(self.module), self.decode)(blob)


#: CKF2 filter blobs (``core/serde``) — the split build, the FASTA build
#: and the checkpoint's on-disk shard blobs
FILTER_CODEC = BlobCodec(__name__, "serialize_filter", "deserialize_filter")


def _keys_from_arrow(col) -> np.ndarray:
    """Flatten an Arrow scalar-int or list<int> column — zero-copy
    offsets arithmetic, no per-row Python.  This path is ~10× faster than
    pandas list-of-array handling and is where "vectorized Arrow UDFs, no
    per-row Python" (north_star) is actually won or lost."""
    if pa.types.is_list(col.type) or pa.types.is_large_list(col.type):
        col = col.flatten()
    if col.null_count:
        col = col.fill_null(0)
    # keep the native integer width (int32 stays int32 — hash64 widens
    # lazily); avoiding the int64 copy halves the bandwidth of this path
    return col.to_numpy(zero_copy_only=False)


def blob_row(pid: int, blob: bytes, n_rows: int, n_items: int) -> pa.RecordBatch:
    """The one ``BLOB_SCHEMA`` row a leaf or a merge group emits."""
    return pa.record_batch({
        "pid": pa.array([pid], pa.int64()),
        "blob": pa.array([blob], pa.binary()),
        "n_rows": pa.array([n_rows], pa.int64()),
        "n_items": pa.array([n_items], pa.int64()),
    })


def fold_batches(batches: Iterable[pa.RecordBatch], extract: Callable,
                 update: Callable) -> tuple[int, int]:
    """Fold record batches into one partial: ``update`` it with each
    batch's first column, flattened by ``extract``.  Returns
    (n_rows, n_items)."""
    n_rows = n_items = 0
    for b in batches:
        vals = extract(b.column(0))
        n_rows += b.num_rows
        n_items += len(vals)
        if len(vals):
            update(vals)
    return n_rows, n_items


def build_partials(df: DataFrame, col: str, factory: Callable[[int], object],
                   extract: Callable, codec: BlobCodec, fanin: int,
                   num_partitions: int | None = None):
    """Fold partition ``pid`` of ``df[col]`` into ``factory(pid)`` (a
    ``Sketch``: ``update``/``merge``), then tree-merge the partials.
    Returns the merged partial, or None for an input with no partitions.

    ``num_partitions``: fix the build parallelism explicitly.  Fixing it
    (rather than inheriting the scan's split count) pins the merge tree, so
    results are bit-identical across cluster sizes — the north_rule's
    N-vs-4N invariance.  Salting/skew is irrelevant here because the build
    is a narrow map (no shuffle by key); repartition only balances bytes."""
    proj = df.select(col)  # column pruning reaches the scan
    if num_partitions is not None:
        proj = proj.repartition(num_partitions)
        n_blobs = num_partitions
    else:
        n_blobs = proj.rdd.getNumPartitions()

    def leaf(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        partial = factory(pid)
        n_rows, n_items = fold_batches(batches, extract, partial.update)
        yield blob_row(pid, codec.dumps(partial), n_rows, n_items)

    blobs = proj.mapInArrow(leaf, schema=BLOB_SCHEMA)
    return tree_merge_blobs(blobs, fanin=fanin, n_blobs=n_blobs, codec=codec)[0]


def split_blobs(spark, n_splits: int, build_split: Callable) -> DataFrame:
    """Leaf stage over planned splits (file row groups, FASTA chunks): one
    task per split id ``sid``; ``build_split(sid)`` returns
    (blob, n_rows, n_items)."""

    def leaf(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in batches:
            for sid in b.column(0).to_pylist():
                yield blob_row(sid, *build_split(sid))

    ids = spark.range(0, n_splits, numPartitions=n_splits)
    return ids.mapInArrow(leaf, schema=BLOB_SCHEMA)


def _fold_group(codec: BlobCodec, key: tuple, table: pa.Table) -> pa.Table:
    """One executor merge group: fold its blobs in ascending pid order; the
    group id becomes the next level's pid."""
    acc = None
    for blob in table.sort_by("pid").column("blob").to_pylist():
        part = codec.loads(blob)
        acc = part if acc is None else acc.merge(part)
    return pa.Table.from_batches([blob_row(
        key[0].as_py(), codec.dumps(acc), pc.sum(table["n_rows"]).as_py(),
        pc.sum(table["n_items"]).as_py())])


def tree_merge_blobs(blobs_df: DataFrame, fanin: int = 8,
                     n_blobs: int | None = None, codec: BlobCodec = FILTER_CODEC):
    """Deterministically fold a ``BLOB_SCHEMA`` DataFrame down to one
    filter or sketch.  Executor-side levels while > fanin blobs remain,
    then a driver-side ordered fold of the last ≤ fanin.  Returns
    (merged, n_rows, n_items); merged is None when there are no blobs.

    ``n_blobs``: pass the known blob count (one per input partition) to
    avoid a ``count()`` action — counting would EXECUTE the whole upstream
    build once, then ``collect()`` would execute it again.

    Why a small fanin matters for scaling: the fold's work is proportional
    to the *sum of stored fingerprints across folded blobs*.  A flat
    driver-side fold of P partition filters costs Σ_P (grows with cluster
    parallelism — inverse scaling!); a fanin-f tree does that work in
    parallel executor stages and the driver only ever folds ≤ f blobs, so
    the critical path is ~f·(per-blob fingerprints)·log_f(P)."""
    df = blobs_df
    n = n_blobs if n_blobs is not None else df.count()
    # executor-side levels: each shrinks the blob count by `fanin`.
    # group id = pid // fanin, fold within group ordered by pid, and the
    # group id becomes the next level's pid — a pure function of partition
    # ids, hence the same tree at any cluster size.
    while n > fanin:
        df = (
            df.withColumn("gid", (F.col("pid") / fanin).cast("long"))
            .groupBy("gid")
            .applyInArrow(lambda key, table: _fold_group(codec, key, table),
                          schema=BLOB_SCHEMA)
        )
        n = -(-n // fanin)
    acc = None
    n_rows = n_items = 0
    for r in sorted(df.collect(), key=lambda r: r["pid"]):
        part = codec.loads(bytes(r["blob"]))
        acc = part if acc is None else acc.merge(part)
        n_rows += r["n_rows"]
        n_items += r["n_items"]
    return acc, n_rows, n_items


def build_filter_from_parquet(spark, path: str, col: str, params: CuckooParams,
                              fanin: int = 8, compact: bool = True,
                              dedup: bool = True) -> DynamicCuckooFilter:
    """Scale-path build: Spark distributes parquet *file splits*; each task
    reads its files directly with pyarrow (column-pruned, zero-copy list
    flatten) and builds a partition filter — the JVM never materializes the
    token column.

    Why: the generic path ships every token through parquet→InternalRow→
    Arrow-IPC→Python (measured ~3× slower than the kernel+IO cost).  For a
    one-column build over 10^12 tokens that re-encode IS the job, so the
    specialized source reads Arrow-native, exactly like Python-native table
    readers (Petastorm etc.).  Works against any pyarrow filesystem
    (local/HDFS/S3) since executors read their own splits.

    The file→task assignment is sorted-deterministic, so the merge tree is
    pinned regardless of cluster size (north_rule invariance)."""
    files = sorted(_list_parquet_files(path))
    if not files:
        # an empty filter answers "non-member" to everything — a silent
        # wrong-path/permissions bug must not masquerade as that
        raise ValueError(f"no parquet files found under {path!r}")
    # Split granularity: one task per FILE by default.  When the file
    # count is small (single-file tables, small imports), split per ROW
    # GROUP instead — the footer reads that requires are one per file,
    # affordable exactly when files are few.  The cutoff is a CONSTANT,
    # i.e. a pure function of the data layout — never of cluster size —
    # so the split list, per-split rng seeds and the merge tree are
    # identical at N and 4N executors (north_rule invariance; a
    # defaultParallelism-based cutoff would silently change the tree
    # with the cluster).
    if len(files) <= ROW_GROUP_SPLIT_MAX_FILES:
        splits = []
        for fid, f in enumerate(files):
            nrg = _num_row_groups(f)
            if nrg == 0:
                # metadata-only file (0 row groups): keep one whole-file
                # split so the task list is never empty and spark.range
                # never sees numPartitions=0
                splits.append((fid, -1))
            else:
                splits.extend((fid, rg) for rg in range(nrg))
    else:
        splits = [(fid, -1) for fid in range(len(files))]  # -1 = whole file
    bc_files = spark.sparkContext.broadcast(files)
    bc_splits = spark.sparkContext.broadcast(splits)

    def build_split(sid: int) -> tuple[bytes, int, int]:
        fid, rg = bc_splits.value[sid]
        filt = DynamicCuckooFilter(params, rng_seed=sid, dedup=dedup)
        # small streaming batches: ~8k docs ≈ 2M tokens ≈ 9 MB — decode
        # scratch stays cache-resident; whole-file reads measured ~10×
        # slower under 32-way concurrency
        batches = _open_parquet(bc_files.value[fid]).iter_batches(
            columns=[col], batch_size=8192, row_groups=None if rg < 0 else [rg])
        n_rows, n_items = fold_batches(batches, _keys_from_arrow, filt.insert)
        return serialize_filter(filt), n_rows, n_items

    blobs = split_blobs(spark, len(splits), build_split)
    filt, _, _ = tree_merge_blobs(blobs, fanin=fanin, n_blobs=len(splits))
    if filt is None:
        filt = DynamicCuckooFilter(params, dedup=dedup)
    if compact:
        filt.compact()
    return filt


def _open_parquet(fpath: str):
    import pyarrow.parquet as pq
    from pyarrow import fs as pafs

    if "://" in fpath:
        rfs, rpath = pafs.FileSystem.from_uri(fpath)
        return pq.ParquetFile(rfs.open_input_file(rpath))
    return pq.ParquetFile(fpath)


def _num_row_groups(fpath: str) -> int:
    return _open_parquet(fpath).metadata.num_row_groups


def _list_parquet_files(path: str) -> list[str]:
    """List .parquet data files under *path* on any pyarrow filesystem
    (local path or URI — file://, hdfs://, s3://): executors re-open the
    returned paths with the same ``from_uri`` resolution."""
    import os

    from pyarrow import fs as pafs

    filesystem, rel = pafs.FileSystem.from_uri(path) if "://" in path else (
        pafs.LocalFileSystem(), os.path.abspath(path))
    info = filesystem.get_file_info(rel)
    if info.type == pafs.FileType.File:
        # local paths go back absolute: executors re-open them and must not
        # depend on sharing the driver's cwd (only true in local mode)
        return [path if "://" in path else os.path.abspath(path)]
    sel = pafs.FileSelector(rel, recursive=True, allow_not_found=True)
    prefix = path.rstrip("/") if "://" in path else rel.rstrip("/")
    out = []
    for f in filesystem.get_file_info(sel):
        name = f.base_name
        relp = os.path.relpath(f.path, rel).replace(os.sep, "/")
        # skip hidden/underscore names at ANY path level (spark.read
        # semantics): _temporary/ holds uncommitted task attempts of a
        # crashed or in-flight write — including them would insert keys
        # from duplicate/aborted attempts
        hidden = any(p.startswith(("_", ".")) for p in relp.split("/"))
        if (f.type == pafs.FileType.File and name.endswith(".parquet")
                and not hidden):
            # re-root on the caller's path form so URI schemes survive
            out.append(prefix + "/" + relp)
    return out


def build_filter(df: DataFrame, col: str, params: CuckooParams,
                 fanin: int = 8, num_partitions: int | None = None,
                 compact: bool = True, dedup: bool = True) -> DynamicCuckooFilter:
    """Build a global DynamicCuckooFilter over ``df[col]`` (int column or
    array<int> column): ``build_sketch`` with a ``CuckooSketch`` factory.
    ``num_partitions`` pins the merge tree (see ``build_partials``)."""
    return _build_cuckoo(df, col, params, _keys_from_arrow, fanin=fanin,
                         num_partitions=num_partitions, compact=compact, dedup=dedup)


def _build_cuckoo(df: DataFrame, col: str, params: CuckooParams,
                  extract: Callable, fanin: int, num_partitions: int | None,
                  compact: bool, dedup: bool) -> DynamicCuckooFilter:
    """The cuckoo filter as one more sketch: partition ``pid`` inserts into
    ``CuckooSketch(params, seed=pid)``, tagged sketch blobs tree-merge.

    ``dedup=True`` (set semantics) is the scale default: corpus token
    streams are heavily skewed (Zipf), and a multiset filter would need one
    slot per *occurrence* of a hot token — unbounded chain growth.  Set
    semantics stores each distinct (bucket-pair, fp) once; membership
    answers are identical."""
    from cuckoofilter_spark.operators.sketch_build import SKETCH_CODEC
    from cuckoofilter_spark.sketches.cuckoo_sketch import CuckooSketch

    sk = build_partials(df, col, lambda pid: CuckooSketch(params, seed=pid, dedup=dedup),
                        extract, SKETCH_CODEC, fanin, num_partitions)
    filt = sk.filt if sk is not None else DynamicCuckooFilter(params, dedup=dedup)
    if compact:
        filt.compact()
    return filt

"""Checkpointed, resumable distributed filter build with per-shard lineage
and metrics (north_rule: "resumable from checkpoint with per-partition
lineage + metrics persisted alongside checkpoints").

Unlike the fast path (``operators/build.py``: one blob per *physical* input
partition via ``mapInArrow``), the checkpointed build keys work by a
**stable logical shard**: ``shard = pmod(xxhash64(key, seed), n_shards)``.
Shard identity is a pure function of the data — not of the scan's split
count, task scheduling, or cluster size — which is what makes a checkpoint
written by an 8-executor run resumable by a 32-executor run with
bit-identical results (the same property gives N-vs-4N estimate
invariance by construction).

Cost model: the groupBy(shard) is one full shuffle of the projected key
column (not the whole row).  That shuffle is the price of resume
granularity; the fast path avoids it when resume isn't needed.  At 10^12
tokens, size ``n_shards`` so a shard's keys fit an executor's Arrow batch
budget (e.g. 2^16 shards → ~15M tokens/shard ≈ 120 MB of int64).

Checkpoint layout (all under ``ckpt_dir``):
- ``manifest.json``   — params, n_shards, seed, column (validated on resume)
- ``blobs/``          — parquet (shard, blob, n_rows, n_items); appended as
                        shards complete, one file per task
- ``metrics.jsonl``   — one line per run: shards built/skipped, rows,
                        items, wall seconds
- ``filter.bin``      — final merged filter (written by ``finalize``)
"""

from __future__ import annotations

import json
import os
import time

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cuckoofilter_spark.core.dynamic_filter import DynamicCuckooFilter
from cuckoofilter_spark.core.serde import deserialize_filter, serialize_filter
from cuckoofilter_spark.operators.build import (
    BLOB_SCHEMA,
    _keys_from_arrow,
    blob_row,
    fold_batches,
    tree_merge_blobs,
)
from cuckoofilter_spark.params import CuckooParams

SHARD_SEED = 0x5A


def _shard_col(col: str, n_shards: int) -> "F.Column":
    return F.pmod(F.xxhash64(F.col(col), F.lit(SHARD_SEED)), F.lit(n_shards)).alias("shard")


def _manifest(params: CuckooParams, col: str, n_shards: int, dedup: bool) -> dict:
    return {
        "params": list(params.to_tuple()),
        "column": col,
        "n_shards": n_shards,
        "dedup": dedup,
        "shard_seed": SHARD_SEED,
        "format_version": 1,
    }


def _build_shard_udf(params: CuckooParams, dedup: bool):
    """applyInArrow leaf: one shard's keys → one CKF2 blob row."""

    def fn(key: tuple, table: pa.Table) -> pa.Table:
        shard = key[0].as_py()
        filt = DynamicCuckooFilter(params, rng_seed=shard, dedup=dedup)
        # one batch, so one insert call per shard: the bytes of a shard blob
        # do not depend on how Spark batched the group
        n_rows, n_items = fold_batches(table.combine_chunks().to_batches(),
                                       _keys_from_arrow, filt.insert)
        return pa.Table.from_batches([blob_row(shard, serialize_filter(filt),
                                               n_rows, n_items)])

    return fn


class CheckpointedBuild:
    """Resumable build session bound to a checkpoint directory."""

    def __init__(self, spark: SparkSession, ckpt_dir: str, params: CuckooParams,
                 col: str, n_shards: int = 64, dedup: bool = True):
        self.spark = spark
        self.ckpt_dir = ckpt_dir
        self.params = params
        self.col = col
        self.n_shards = n_shards
        self.dedup = dedup
        os.makedirs(ckpt_dir, exist_ok=True)
        self._check_or_write_manifest()

    # -- manifest ----------------------------------------------------------
    @property
    def _manifest_path(self) -> str:
        return os.path.join(self.ckpt_dir, "manifest.json")

    @property
    def _blobs_path(self) -> str:
        return os.path.join(self.ckpt_dir, "blobs")

    def _check_or_write_manifest(self) -> None:
        want = _manifest(self.params, self.col, self.n_shards, self.dedup)
        if os.path.exists(self._manifest_path):
            with open(self._manifest_path) as f:
                have = json.load(f)
            if have != want:
                raise ValueError(
                    f"checkpoint at {self.ckpt_dir} was written with different "
                    f"config: {have} != {want}")
        else:
            with open(self._manifest_path, "w") as f:
                json.dump(want, f, indent=1)

    # -- lineage -----------------------------------------------------------
    @property
    def _lineage_path(self) -> str:
        return os.path.join(self.ckpt_dir, "lineage.json")

    def done_shards(self) -> set[int]:
        """Shards recorded complete.  Tracked explicitly (not derived from
        blob rows) because an *empty* shard legitimately writes no blob —
        it is still done."""
        if not os.path.exists(self._lineage_path):
            return set()
        with open(self._lineage_path) as f:
            return set(json.load(f)["completed_shards"])

    def _record_done(self, shards: set[int]) -> None:
        done = sorted(self.done_shards() | shards)
        tmp = self._lineage_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"completed_shards": done}, f)
        os.replace(tmp, self._lineage_path)

    # -- build -------------------------------------------------------------
    def run(self, df: DataFrame, max_shards: int | None = None) -> dict:
        """Build every not-yet-checkpointed shard (optionally capped at
        ``max_shards``, for testing interruption) and append the blobs.
        Returns run metrics."""
        t0 = time.time()
        done = self.done_shards()
        attempt = sorted(set(range(self.n_shards)) - done)
        if max_shards is not None:
            attempt = attempt[:max_shards]
        if attempt:
            sharded = df.select(F.col(self.col), _shard_col(self.col, self.n_shards))
            blobs = (
                sharded.filter(F.col("shard").isin(attempt))
                .groupBy("shard")
                .applyInArrow(_build_shard_udf(self.params, self.dedup),
                              schema=BLOB_SCHEMA)
            )
            blobs.write.mode("append").parquet(self._blobs_path)
            # the write action completed → every attempted shard (including
            # empty ones that emitted no blob row) is durable
            self._record_done(set(attempt))
        metrics = {
            "ts": time.time(), "wall_sec": round(time.time() - t0, 3),
            "shards_built": len(attempt), "shards_skipped": len(done),
            "shards_total": self.n_shards,
        }
        with open(os.path.join(self.ckpt_dir, "metrics.jsonl"), "a") as f:
            f.write(json.dumps(metrics) + "\n")
        return metrics

    # -- finalize ----------------------------------------------------------
    def finalize(self, fanin: int = 8, compact: bool = True) -> DynamicCuckooFilter:
        """Tree-merge all shard blobs (ascending shard order — deterministic
        regardless of which runs produced them) and persist the result."""
        missing = set(range(self.n_shards)) - self.done_shards()
        if missing:
            raise RuntimeError(
                f"checkpoint incomplete: {len(missing)} shards missing "
                f"(e.g. {sorted(missing)[:5]}); call run(df) again")
        from pyspark.sql import Window

        # Crash-window dedup: a driver death between the blob append and
        # _record_done leaves the shard un-recorded, so the next run
        # rebuilds it and appends a SECOND blob row for the same pid —
        # merging both would double-insert the shard (corrupting multiset
        # counts and delete semantics).  Keep exactly one blob per pid,
        # chosen deterministically by content digest (every blob for a pid
        # covers the identical shard input, so any one is correct).
        w = Window.partitionBy("pid").orderBy(F.md5("blob"))
        blobs = (self.spark.read.parquet(self._blobs_path)
                 .withColumn("_rn", F.row_number().over(w))
                 .filter(F.col("_rn") == 1).drop("_rn"))
        filt, _, _ = tree_merge_blobs(blobs, fanin=fanin)
        if filt is None:
            filt = DynamicCuckooFilter(self.params, dedup=self.dedup)
        if compact:
            filt.compact()
        with open(os.path.join(self.ckpt_dir, "filter.bin"), "wb") as f:
            f.write(serialize_filter(filt))
        return filt

    @staticmethod
    def load_final(path: str) -> DynamicCuckooFilter:
        """Load a finalized filter; accepts the checkpoint dir or the
        filter.bin path itself."""
        if os.path.isdir(path):
            path = os.path.join(path, "filter.bin")
        with open(path, "rb") as f:
            return deserialize_filter(f.read())


def checkpointed_build_filter(spark: SparkSession, df: DataFrame, col: str,
                              params: CuckooParams, ckpt_dir: str,
                              n_shards: int = 64, dedup: bool = True,
                              fanin: int = 8) -> DynamicCuckooFilter:
    """One-call convenience: resume-or-build all shards, then finalize."""
    cb = CheckpointedBuild(spark, ckpt_dir, params, col, n_shards, dedup)
    cb.run(df)
    return cb.finalize(fanin=fanin)

"""Append-only parquet parts store with LSM-style compaction.

The ``foreachBatch`` maintenance queries (``q_stream_curation_maintenance``,
``q_stream_curation_v4_maintenance``) persist corpus state as a list of
immutable parquet part directories: each micro-batch APPENDS one part
holding only its delta rows — O(|delta|) write I/O per batch — and reads
state as the multi-path union of all parts. That shape is right per
batch but degenerates over a long crawl (VERDICT r6 #3): after B batches
every read opens B directories, and parquet/file-listing overhead grows
linearly even though the data doesn't.

This store bounds the part count with the classic log-structured merge
discipline, the *binary-counter* (size-tiered) variant rather than the
naive "rewrite everything past a threshold" one:

* every appended part enters at level 0;
* whenever ``merge_fanout`` parts occupy the same level, they are merged
  (union-read, single-write) into one part at ``level + 1``, cascading —
  exactly a base-``merge_fanout`` counter incrementing.

Each row is therefore rewritten at most once per level it climbs, i.e.
O(log_f B) times over the store's lifetime — amortized per-batch I/O
stays O(|delta| · log B), and the live part count is bounded by
``merge_fanout · log_f B`` (≤ ~16 dirs for a 4,000-batch crawl at
fanout 4) instead of B. Per-batch wall-time is flat with periodic
bounded spikes at counter-carry batches; ``tools/compaction_probe.py``
measures exactly that curve at sf0.1 and 10×.

Pre-loaded base state (e.g. the day-0 snapshot, typically much larger
than any delta and often a shared content-fingerprinted cache dir) is
attached as a *protected* part: it joins every read but is never merged
or deleted, so the big snapshot is not pulled into small-delta merges
and the cache stays intact for other runs.

Correctness is trivially preserved: parts are disjoint row sets whose
union IS the state, merging is union-rewrite, and every consumer reads
through :meth:`read` (multi-path parquet of the current parts).

The part list lives only in memory: no manifest file is written, parts
carry no micro-batch id, and a restarted query cannot find or resume
the state a crashed one left. The streaming twins therefore keep their
stores in a per-run directory that ``streaming/pipeline.py::run_twin``
removes when the run ends. A crash-consistent store (an atomically
renamed manifest, batch-id-tagged parts so a replayed batch is a no-op)
is not built yet.
"""

from __future__ import annotations

import math
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession


class AppendOnlyPartsStore:
    """One logical append-only relation stored as merged parquet parts.

    Parameters
    ----------
    spark, root, name:
        Parts live under ``{root}/{name}_*``; ``root`` is caller-owned
        (callers remove it wholesale on teardown).
    merge_fanout:
        How many same-level parts trigger a merge (the counter base).
        2 = merge early/often (lowest part count), 4 = fewer, larger
        merges. Must be >= 2.
    merge_transform:
        Optional ``DataFrame -> DataFrame`` applied to the unioned
        rows each time parts merge — the LSM *merge-operator* pattern
        (RocksDB merge operators, Cassandra counter compaction): state
        that is a partial AGGREGATE folds at compaction time instead
        of accumulating raw rows, so a level's size tracks the
        aggregate's cardinality (e.g. vocabulary) rather than
        batches × cardinality. The transform must be associative and
        commutative over disjoint part unions, and consumers must
        apply the SAME fold over :meth:`read` (the live tail —
        protected parts plus not-yet-merged level-0 parts — is still
        unfolded).
    count_rows:
        When False, skip the post-write parquet count used for row
        telemetry (``parts`` records -1 and ``rows_rewritten`` stops
        accumulating). The count is a metadata-only job, but it still
        lists the part and reads every footer — measurable per-batch
        overhead for partitioned parts with directory fan-out. Probe
        tooling keeps the default True; hot maintenance loops pass
        False.
    partition_col:
        Optional column every part is directory-partitioned by
        (``write.partitionBy``). Join state that a delta rule PROBES
        per batch (rather than folds at publish) should be partitioned
        by a key-derived bucket: a consumer filtering :meth:`read` on
        the partition column gets parquet partition-directory pruning,
        so each probe's I/O tracks the delta's bucket footprint
        instead of the full state size (VERDICT r9 #5 — the itemsim
        twin's 4 per-batch probes were scanning the whole (order,
        item) relation). The column must be low-cardinality per part
        (a bucket, not a raw key) and is restored on read from the
        directory names; use an INT bucket so the round-trip type is
        stable.
    """

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        name: str,
        merge_fanout: int = 4,
        merge_transform=None,
        partition_col: str | None = None,
        count_rows: bool = True,
    ) -> None:
        if merge_fanout < 2:
            raise ValueError("merge_fanout must be >= 2")
        self.spark = spark
        self.root = root
        self.name = name
        self.fanout = merge_fanout
        self.merge_transform = merge_transform
        self.partition_col = partition_col
        self.count_rows = count_rows
        # (path, level, n_rows) newest-last; disjoint unions of the state
        self.parts: list[tuple[str, int, int]] = []
        # caller-owned read-only dirs (e.g. the shared content-hashed
        # day-0 cache): part of every read, never merged, never deleted
        self.protected: list[str] = []
        self.merges = 0  # merge operations performed (probe telemetry)
        self.rows_rewritten = 0  # rows re-written by merges (ditto)

    # -- internals ---------------------------------------------------------

    def _new_dir(self) -> str:
        return os.path.join(
            self.root, f"{self.name}_{uuid.uuid4().hex[:12]}"
        )

    def _read_paths(self, paths: list[str]) -> DataFrame:
        """Union of part directories. Partitioned parts must be read
        one root at a time (Spark rejects multi-path reads over
        partitioned directory layouts — CONFLICTING_DIRECTORY_STRUCTURES)
        and unioned; filters on the partition column still prune
        directories inside every branch of the union."""
        if self.partition_col is None:
            return self.spark.read.parquet(*paths)
        from functools import reduce

        return reduce(
            lambda a, b: a.unionByName(b),
            (self.spark.read.parquet(p) for p in paths),
        )

    def _write(self, df: DataFrame, path: str) -> int:
        writer = df.write.mode("overwrite")
        if self.partition_col is not None:
            writer = writer.partitionBy(self.partition_col)
        writer.parquet(path)
        if not self.count_rows:
            return -1
        # parquet footer metadata makes this a metadata-only job
        return self.spark.read.parquet(path).count()

    def _maybe_merge(self) -> None:
        while True:
            levels = [lvl for _p, lvl, _n in self.parts]
            lvl = next(
                (
                    v
                    for v in sorted(set(levels))
                    if levels.count(v) >= self.fanout
                ),
                None,
            )
            if lvl is None:
                return
            group = [t for t in self.parts if t[1] == lvl][: self.fanout]
            merged_dir = self._new_dir()
            merged = self._read_paths([p for p, _l, _n in group])
            if self.merge_transform is not None:
                merged = self.merge_transform(merged)
            n = self._write(merged, merged_dir)
            self.merges += 1
            if n >= 0:  # count_rows=False writes report -1 (no count job)
                self.rows_rewritten += n
            keep = [t for t in self.parts if t not in group]
            self.parts = keep + [(merged_dir, lvl + 1, n)]
            for p, _l, _n in group:
                shutil.rmtree(p, ignore_errors=True)

    # -- public API --------------------------------------------------------

    def append(self, df: DataFrame, derive=None) -> None:
        """Write ``df`` as a new level-0 part, then compact.

        ``derive``, if given, is called with the part re-read from disk
        *between* the persist and the compaction — the window where the
        delta rows still exist as their own directory. Use it to build
        secondary indexes over exactly the rows as written (O(|delta|)
        re-read, no plan recompute); it must consume the DataFrame
        eagerly (e.g. by appending a derived relation to another store),
        because compaction may merge the directory away afterwards."""
        path = self._new_dir()
        n = self._write(df, path)
        if derive is not None:
            derive(self.spark.read.parquet(path))
        self.parts.append((path, 0, n))
        self._maybe_merge()

    def attach_protected(self, path: str) -> None:
        """Include a caller-owned parquet dir (e.g. the shared
        content-fingerprinted day-0 cache) in every read WITHOUT taking
        ownership: it is never merged and never deleted. The big base
        snapshot therefore never gets pulled into small-delta merges —
        the same effect a size-tiered level assignment would give it,
        with zero copy cost."""
        self.protected.append(path)

    def read(self) -> DataFrame | None:
        """The full state: multi-path union of current parts (None when
        empty)."""
        paths = self.protected + [p for p, _l, _n in self.parts]
        if not paths:
            return None
        return self._read_paths(paths)

    @property
    def n_parts(self) -> int:
        return len(self.protected) + len(self.parts)

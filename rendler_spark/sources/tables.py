"""Iceberg-shaped warehouse: partitioned Parquet + JSON snapshot manifests.

The reference persisted nothing but image files and a final ``.dot`` text
[upstream: python/render_executor.py ~L70; python/export_dot.py]; a scheduler
crash lost the whole crawl.  The north rule demands Iceberg tables with
"checkpointed per-partition lineage + fetch/dedup metrics for exact resume"
(BASELINE.json:L6,L14).  No ``iceberg-spark-runtime`` jar exists in this
sandbox and there is no network to fetch one (SURVEY.md §0.4), so this
module implements the Iceberg *shape* over plain Parquet:

* every table is a directory of explicit partition dirs ``wave=N/``
  (Hive-style, so Spark partition-prunes wave reads — at 10^10 scale a
  wave's anti-join only touches the partitions it names);
* every committed state transition writes a JSON manifest
  ``_manifests/v{N}.json`` via write-temp + atomic rename; a partition dir
  without a covering manifest is garbage and is overwritten on re-run —
  that makes wave re-execution idempotent and resume exact;
* manifests carry per-partition row counts + wave metrics (the lineage
  record the north rule asks for).  Every count is read back from the
  parquet footers of the partitions a wave just wrote
  (``partition_rows``) — the analogue of the record count Iceberg keeps
  per data file, so the numbers describe the committed files themselves.

Swapping in real Iceberg later = replacing this module's read/append with
``spark.table`` / ``writeTo(...).append()`` — the engine only talks to
``Warehouse``.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession


class Warehouse:
    def __init__(self, root: str | os.PathLike):
        self.root = Path(root)
        (self.root / "_manifests").mkdir(parents=True, exist_ok=True)

    # ----------------------------------------------------------- paths

    def table_dir(self, table: str) -> Path:
        return self.root / table

    def part_dir(self, table: str, wave: int) -> Path:
        return self.root / table / f"wave={wave}"

    # ----------------------------------------------------------- write

    def overwrite_partition(
        self,
        table: str,
        wave: int,
        df: DataFrame,
        partition_by: list[str] | None = None,
    ) -> None:
        """(Re)write one wave partition of a table.  Any pre-existing dir is
        removed first so re-running an uncommitted wave is idempotent.

        Removing the dir also keeps ``partition_rows`` exact: a crashed
        wave's stale files never add to the re-run's footer counts.

        ``partition_by`` adds Hive sub-partition dirs inside the wave dir
        (the seen table and its compacted snapshots always write
        ``shard=``) — at 10^10 scale this is what turns a per-shard job
        into a pruned read instead of a table scan.
        """
        path = self.part_dir(table, wave)
        if path.exists():
            shutil.rmtree(path)
        w = df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(str(path))

    def overwrite_partition_local(self, table: str, wave: int, pdf) -> None:
        """Driver-side twin of overwrite_partition for TINY frames (one
        metrics row per wave): writes the pandas frame as one parquet
        file via pyarrow, skipping the Spark job + commit protocol.  The
        layout and (int64/str) schema match what the Spark path produced
        for the same frame, so readers are unaffected."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        path = self.part_dir(table, wave)
        if path.exists():
            shutil.rmtree(path)
        path.mkdir(parents=True, exist_ok=True)
        pq.write_table(
            pa.Table.from_pandas(pdf, preserve_index=False),
            path / "part-00000.parquet",
        )

    # ----------------------------------------------------------- read

    def exists(self, table: str, wave: int | None = None) -> bool:
        p = self.part_dir(table, wave) if wave is not None else self.table_dir(table)
        return p.exists()

    def latest_wave(self, table: str, upto: int | None = None) -> int | None:
        """Highest wave N with a partition dir (optionally capped at
        ``upto``) — used to locate the newest compaction snapshot."""
        base = self.table_dir(table)
        if not base.exists():
            return None
        waves = [
            int(d.name.split("=")[1])
            for d in base.glob("wave=*")
            if d.is_dir() and (upto is None or int(d.name.split("=")[1]) <= upto)
        ]
        return max(waves) if waves else None

    def read(
        self,
        spark: SparkSession,
        table: str,
        wave: int | None = None,
        upto: int | None = None,
        start: int = 0,
        schema: str | None = None,
    ) -> DataFrame:
        """Read a table; ``wave=`` one partition, ``upto=`` partitions
        start..upto (explicit dir list -> partition pruning by
        construction).  The Hive-style dir names surface ``wave`` (and any
        sub-partition key such as ``shard``) as partition columns.

        ``schema`` (DDL, partition columns included) is the table's known
        schema: Spark then skips the job that infers it from the parquet
        footers, and a file-less partition dir (a zero-row partitioned
        write) reads as an empty frame instead of failing."""
        base = self.table_dir(table)
        if wave is not None:
            dirs = [self.part_dir(table, wave)]
        elif upto is not None:
            dirs = [self.part_dir(table, w) for w in range(start, upto + 1)]
            dirs = [d for d in dirs if d.exists()]
        else:
            dirs = sorted(
                d for d in base.iterdir() if d.is_dir() and d.name.startswith("wave=")
            )
        reader = spark.read.option("basePath", str(base))
        if schema is not None:
            reader = reader.schema(schema)
        return reader.parquet(*[str(d) for d in dirs])

    def partition_rows(self, table: str, wave: int, by: str | None = None):
        """Row count of one written wave partition, read from its parquet
        footers on the driver — metadata only, no Spark job.  A partition
        dir without data files (a zero-row partitioned write) counts 0.

        ``by`` names a column that is constant within every row group:
        returns {value: rows} keyed by that column's min/max statistic.
        A row group whose min != max (a write that mixed keys) fails the
        assert instead of miscounting."""
        import pyarrow.parquet as pq

        metas = [
            pq.read_metadata(p) for p in self.part_dir(table, wave).rglob("*.parquet")
        ]
        if by is None:
            return sum(m.num_rows for m in metas)
        counts: dict = {}
        for m in metas:
            col = m.schema.names.index(by)
            for i in range(m.num_row_groups):
                rg = m.row_group(i)
                st = rg.column(col).statistics
                assert st is not None and st.has_min_max and st.min == st.max, (
                    f"{table}/wave={wave}: row group mixes {by} values"
                )
                counts[st.min] = counts.get(st.min, 0) + rg.num_rows
        return counts

    # ----------------------------------------------------------- manifests

    def _manifest_path(self, version: int) -> Path:
        return self.root / "_manifests" / f"v{version:06d}.json"

    def commit(self, version: int, info: dict) -> None:
        """Atomically publish state version N (temp file + rename)."""
        path = self._manifest_path(version)
        fd, tmp = tempfile.mkstemp(dir=path.parent, suffix=".tmp")
        with os.fdopen(fd, "w") as f:
            json.dump({"version": version, **info}, f, indent=1, sort_keys=True)
        os.replace(tmp, path)

    def last_version(self) -> int | None:
        versions = sorted(
            int(p.stem[1:]) for p in (self.root / "_manifests").glob("v*.json")
        )
        return versions[-1] if versions else None

    def manifest(self, version: int) -> dict:
        with open(self._manifest_path(version)) as f:
            return json.load(f)

    def truncate(self, version: int) -> None:
        """Roll the warehouse back to state ``version``: drop manifests and
        partition dirs belonging to later waves.  State tables (frontier/
        seen/seen_compact) keep wave <= version (their wave=N dir belongs to
        commit N); output tables keep wave < version (wave w's outputs are
        committed by version w+1).  Used by the scaling bench to re-run the
        same continuation repeatedly, and usable for manual rollback."""
        for p in (self.root / "_manifests").glob("v*.json"):
            if int(p.stem[1:]) > version:
                p.unlink()
        state = self.STATE_TABLES
        for table_dir in self.root.iterdir():
            if not table_dir.is_dir() or table_dir.name.startswith("_"):
                continue
            keep_upto = version if table_dir.name in state else version - 1
            for part in table_dir.glob("wave=*"):
                if int(part.name.split("=")[1]) > keep_upto:
                    shutil.rmtree(part)

    def all_manifests(self) -> list[dict]:
        last = self.last_version()
        if last is None:
            return []
        return [self.manifest(v) for v in range(self.first_version(), last + 1)]

    def first_version(self) -> int:
        versions = sorted(
            int(p.stem[1:]) for p in (self.root / "_manifests").glob("v*.json")
        )
        return versions[0] if versions else 0

    # ------------------------------------------------ Iceberg maintenance

    #: tables whose wave=N dir belongs to commit N (everything else's
    #: wave=N outputs are committed by version N+1) — shared by truncate()
    #: and read_as_of()
    STATE_TABLES = frozenset({"frontier", "seen", "seen_compact"})

    def read_as_of(
        self, spark: SparkSession, table: str, version: int
    ) -> DataFrame:
        """Time travel: the table's content as of committed ``version`` —
        Iceberg's ``VERSION AS OF`` over this layout.  Partition dirs are
        append-only per wave and a manifest covers everything up to its
        version, so the historical read is just an upto-bounded dir list
        (no data copies, O(1) metadata)."""
        upto = version if table in self.STATE_TABLES else version - 1
        return self.read(spark, table, upto=upto)

    def expire_snapshots(self, keep_last: int) -> int:
        """Iceberg's expire_snapshots: drop manifest versions older than
        the newest ``keep_last``, bounding metadata growth on a
        long-running crawl.  Data partition dirs are never touched (every
        wave dir is still referenced by a retained manifest's lineage or
        readable directly); only rollback/time-travel BEYOND the horizon
        is given up.  Returns the number of manifests removed."""
        assert keep_last >= 1
        last = self.last_version()
        if last is None:
            return 0
        horizon = last - keep_last + 1
        removed = 0
        for p in (self.root / "_manifests").glob("v*.json"):
            if int(p.stem[1:]) < horizon:
                p.unlink()
                removed += 1
        return removed

    def rewrite_data_files(
        self,
        spark: SparkSession,
        table: str,
        target_bytes: int = 128 << 20,
        min_files: int = 2,
    ) -> dict:
        """Iceberg's ``rewrite_data_files`` (bin-pack) over this layout:
        merge small parquet files WITHIN each leaf partition dir so file
        count tracks data size, not commit count.  The streaming skin
        appends one wave dir per micro-batch and the wave engine one per
        wave — at 10^10 scale that is the classic small-files problem:
        every downstream scan pays per-file open/footer costs and the
        driver pays per-file listing.  Rewriting INSIDE each dir leaves
        semantics and metadata untouched (manifests and readers reference
        partition DIRS, not files; partition columns live in dir names,
        which are preserved).

        Crash safety is dir-swap + self-repair: new files land in
        ``<dir>.__rewrite__``, the old dir moves to ``<dir>.__old__``,
        the new dir renames into place, then the old dir is deleted.  A
        crash leaves either a stray ``__rewrite__`` (garbage, removed on
        next call) or a ``__old__`` without its main dir (restored on
        next call) — never a missing or doubled partition.  Returns
        {"rewritten": n_dirs, "files_before": x, "files_after": y}.

        Concurrency contract (matching the Iceberg maintenance-operation
        model): compaction assumes a quiesced table — SINGLE writer, NO
        concurrent readers.  The leaf swap (os.replace to ``__old__``
        then ``__rewrite__`` into place) has a window where the
        partition dir does not exist, so a Spark read racing the swap
        can fail or silently miss the partition.  The engine only calls
        this between waves, never during one.
        """
        base = self.table_dir(table)
        if not base.exists():
            return {"rewritten": 0, "files_before": 0, "files_after": 0}
        # self-repair leftovers from a previous crash
        for stray in base.rglob("*.__rewrite__"):
            shutil.rmtree(stray)
        for old in base.rglob("*.__old__"):
            main = old.with_name(old.name[: -len(".__old__")])
            if main.exists():
                shutil.rmtree(old)
            else:
                os.replace(old, main)

        def leaf_dirs(d: Path):
            subs = [c for c in d.iterdir() if c.is_dir()]
            if subs:
                for c in subs:
                    yield from leaf_dirs(c)
            else:
                yield d

        stats = {"rewritten": 0, "files_before": 0, "files_after": 0}
        for leaf in list(leaf_dirs(base)):
            files = list(leaf.glob("*.parquet"))
            if not files:
                continue
            total = sum(f.stat().st_size for f in files)
            n_target = max(1, -(-total // target_bytes))
            stats["files_before"] += len(files)
            if len(files) < max(min_files, n_target + 1):
                stats["files_after"] += len(files)
                continue
            rewrite = leaf.with_name(leaf.name + ".__rewrite__")
            old = leaf.with_name(leaf.name + ".__old__")
            shutil.rmtree(rewrite, ignore_errors=True)
            (
                spark.read.parquet(str(leaf))
                .coalesce(int(n_target))
                .write.mode("overwrite")
                .parquet(str(rewrite))
            )
            os.replace(leaf, old)
            os.replace(rewrite, leaf)
            shutil.rmtree(old)
            stats["rewritten"] += 1
            stats["files_after"] += len(list(leaf.glob("*.parquet")))
        return stats

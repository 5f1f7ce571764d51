"""Parquet-backed table catalog with atomic pointer swaps.

Prod target is Iceberg (ACID snapshot commits, `writeTo(...).createOrReplace`,
partition transforms); this sandbox has no Iceberg runtime jar, so the same
guarantees are provided at the interface level over parquet directories:

- every write lands in a fresh ``<table>/v_<n>`` directory;
- a tiny ``POINTER`` file names the live version and is replaced atomically
  (tmp file + ``os.replace`` — the exact mechanism the reference uses for its
  zero-downtime collection pointer swap, ``app/config_updater.py:36-93``);
- readers resolve the pointer first, so a half-written version is never
  visible (snapshot isolation per table);
- append-only logs add parquet files under one ``<table>/log`` directory,
  order-free. Driver-held rows (the ``_metrics``/``_checkpoints`` commit
  logs, the embedding cache, merge, download and ontology-version
  history) go through ``append_rows``: one pyarrow-written file per call,
  renamed into place, no Spark job.

Swapping this class for an Iceberg catalog changes no pipeline code: only
``write_replace/read/append_rows`` call sites.

Writer model: ONE writer per table at a time (the reference's
config-updater model — readers are lock-free against the pointer, writers
are the pipeline's own sequential stages). Concurrent ``merge_upsert`` /
``compact_table`` calls on the same table would race the pointer commit
(last flip wins, the loser's rows vanish); production concurrency is
exactly what Iceberg's optimistic commit protocol adds on top of this
interface.
"""

from __future__ import annotations

import json
import os
import uuid
from datetime import datetime, timezone

import pyarrow.parquet as pq
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession

from ..functions.dims import arrow_table, struct_schema


def utc_now() -> datetime:
    """The commit timestamp ``append_rows`` callers stamp their rows with."""
    return datetime.now(timezone.utc)


class ParquetCatalog:
    def __init__(self, spark: SparkSession, warehouse: str):
        self.spark = spark
        self.warehouse = warehouse
        os.makedirs(warehouse, exist_ok=True)

    def _table_dir(self, table: str) -> str:
        return os.path.join(self.warehouse, table)

    def _pointer_path(self, table: str) -> str:
        return os.path.join(self._table_dir(table), "POINTER")

    def write_replace(self, df: DataFrame, table: str, partition_by: list[str] | None = None) -> str:
        """Write a new version and atomically swap the pointer to it."""
        tdir = self._table_dir(table)
        os.makedirs(tdir, exist_ok=True)
        version = f"v_{uuid.uuid4().hex[:12]}"
        vdir = os.path.join(tdir, version)
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(vdir)
        self._commit_pointer(table, version)
        return version

    def _commit_pointer(self, table: str, version: str) -> None:
        tmp = self._pointer_path(table) + f".tmp.{uuid.uuid4().hex[:6]}"
        with open(tmp, "w") as f:
            json.dump({"version": version}, f)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, self._pointer_path(table))

    def current_version(self, table: str) -> str | None:
        try:
            with open(self._pointer_path(table)) as f:
                return json.load(f)["version"]
        except FileNotFoundError:
            return None

    def exists(self, table: str) -> bool:
        return self.current_version(table) is not None

    def read(self, table: str, version: str | None = None) -> DataFrame:
        """Read the live version, or time-travel to a named one (every
        ``write_replace`` keeps its immutable ``v_*`` directory until
        ``vacuum_table`` retires it — Iceberg snapshot-read semantics)."""
        if version is None:
            version = self.current_version(table)
        if version is None:
            raise FileNotFoundError(f"table {table} has no committed version")
        vdir = os.path.join(self._table_dir(table), version)
        if not os.path.isdir(vdir):
            raise FileNotFoundError(f"table {table} has no version {version}")
        return self.spark.read.parquet(vdir)

    def versions(self, table: str) -> list[str]:
        """All retained versions, oldest first (commit-time order)."""
        tdir = self._table_dir(table)
        if not os.path.isdir(tdir):
            return []
        vs = [n for n in os.listdir(tdir) if n.startswith("v_")]
        return sorted(vs, key=lambda n: os.path.getmtime(os.path.join(tdir, n)))

    def vacuum_table(self, table: str, keep: int = 2) -> list[str]:
        """Retire all but the newest ``keep`` versions (never the live one,
        and never a version whose REAL bucket dirs are still symlink-
        referenced by a retained snapshot — a table initialized with real
        bucket dirs gets them re-linked by later merges, so deleting the
        old version dir would delete live data). Returns removed names."""
        import shutil

        tdir = self._table_dir(table)
        live = self.current_version(table)
        vs = self.versions(table)
        removable = [v for v in vs[:-keep] if v != live] if keep > 0 else [
            v for v in vs if v != live
        ]
        retained = [v for v in vs if v not in set(removable)]
        referenced: set[str] = set()
        for v in retained:
            vdir = os.path.join(tdir, v)
            for name in os.listdir(vdir):
                referenced.add(os.path.realpath(os.path.join(vdir, name)))
        removed = []
        for v in removable:
            vdir = os.path.join(tdir, v)
            vreal = os.path.realpath(vdir)
            if any(
                r == vreal or r.startswith(vreal + os.sep) for r in referenced
            ):
                continue  # retained snapshots resolve into this dir
            shutil.rmtree(vdir)
            removed.append(v)
        return removed

    # ------------------------------------------------------------ merge/upsert

    def merge_upsert(
        self,
        source: DataFrame,
        table: str,
        key_cols: list[str],
        n_buckets: int = 64,
        partition_col: str | None = None,
    ) -> str:
        """Row-level MERGE — Iceberg's ``MERGE INTO t USING s ON keys WHEN
        MATCHED THEN UPDATE * WHEN NOT MATCHED THEN INSERT *`` (the J3
        incremental-ontology-update shape,
        reference app/ontology_version_manager.py:149-183) with
        copy-on-write at BUCKET granularity:

        - rows are bucketed by ``pmod(hash(key_cols), n_buckets)`` (stored
          as the ``part_bucket`` partition column);
        - only buckets that contain a source key are rewritten (matched
          target rows replaced, new keys inserted, other rows copied);
        - every untouched bucket is re-linked into the new snapshot
          unchanged — at 100× scale an upsert touching 1% of keys rewrites
          ~1% of the table, not all of it;
        - the new snapshot commits via the same atomic pointer flip as
          ``write_replace`` (readers see old-or-new, never a mix).

        The first merge on a missing table initializes it (full write).
        ``n_buckets``, ``key_cols``, and ``partition_col`` are pinned in
        ``MERGE_META`` on that first merge; later calls must agree.
        Duplicate keys within one source batch are an error (Iceberg raises
        the same way — the merge would be non-deterministic). Returns the
        new version name.

        ``partition_col`` switches the COW granularity from hash buckets to
        a DOMAIN partition column the source already carries (e.g. an IVF
        index's ``centroid_id`` — see ``operators.similarity
        .merge_ivf_index``): only partitions a source row lands in are
        rewritten, and the table keeps its semantic partition pruning at
        rest. The anti-join that replaces matched keys is pruned to those
        partitions, so an UPDATE must keep a key's partition value stable
        (true whenever the partition is a pure function of the key or the
        churn is append-only); a key that migrates partitions would leave
        its old row behind.
        """
        from pyspark.sql import functions as F

        tdir = self._table_dir(table)
        os.makedirs(tdir, exist_ok=True)
        meta_path = os.path.join(tdir, "MERGE_META")
        if os.path.exists(meta_path):
            with open(meta_path) as f:
                meta = json.load(f)
            if meta["key_cols"] != list(key_cols):
                raise ValueError(
                    f"merge keys {key_cols} != table keys {meta['key_cols']}"
                )
            stored_pcol = meta.get("partition_col")
            if stored_pcol != partition_col:
                raise ValueError(
                    f"merge partition_col {partition_col!r} != table's "
                    f"{stored_pcol!r}"
                )
            n_buckets = meta["n_buckets"]
        pcol = partition_col or "part_bucket"
        data_cols = [c for c in source.columns if c != pcol]
        key_expr = [F.col(c) for c in key_cols]
        if partition_col is None:
            src = source.select(*data_cols).withColumn(
                pcol, F.pmod(F.hash(*key_expr), F.lit(n_buckets))
            )
        else:
            if partition_col not in source.columns:
                raise ValueError(
                    f"source lacks partition column {partition_col!r}"
                )
            src = source
        # one small agg job: partition list for pruning + key sanity checks
        null_key = F.col(pcol).isNull()
        for c in key_cols:
            null_key = null_key | F.col(c).isNull()
        stats = src.groupBy(pcol).agg(
            F.count(F.lit(1)).alias("n"),
            F.count_distinct(*key_expr).alias("nd"),
            F.sum(null_key.cast("int")).alias("nn"),
        ).collect()
        if any(r.nn for r in stats):
            raise ValueError("null values in merge key or partition columns")
        # nd (count_distinct) ignores NULLs, so this check is only sound
        # after the null-key guard above
        if any(r.n != r.nd for r in stats):
            raise ValueError(
                "duplicate keys in merge source — dedup before merging"
            )
        affected = sorted(int(r[pcol]) for r in stats)
        n_source = int(sum(r.n for r in stats))
        live = self.current_version(table)
        if not affected:
            if live is None:
                # committing a pointer to an empty snapshot would brick the
                # table (readers can't infer a schema from zero files)
                raise ValueError(
                    "cannot initialize a table from an empty merge source"
                )
            return live  # nothing to merge: keep the current snapshot
        run_id = uuid.uuid4().hex[:12]
        run_dir = os.path.join(tdir, "merges", f"m_{run_id}")
        obs = None
        if live is not None and affected:
            from pyspark.sql import Observation

            # partition-pruned read of ONLY the affected buckets
            target = self.read(table).where(F.col(pcol).isin(affected))
            # upsert sources are normally tiny next to the table — AQE
            # turns this anti-join into a broadcast when the key set is
            # small; huge backfills degrade gracefully to a shuffle join
            keep = target.join(src.select(*key_cols), key_cols, "left_anti")
            # commit stats ride the write job (Observation — no extra scan)
            obs = Observation(f"merge_kept_{run_id}")
            keep = keep.observe(obs, F.count(F.lit(1)).alias("n"))
            merged = keep.select(*data_cols, pcol).unionByName(
                src.select(*data_cols, pcol)
            )
        else:
            merged = src
        n_kept = 0
        if affected:
            merged.write.mode("overwrite").partitionBy(pcol).parquet(
                run_dir
            )
            if obs is not None:
                try:
                    n_kept = int(obs.get["n"])
                except Exception:
                    n_kept = 0  # AQE empty-relation path: nothing survived
        version = f"v_{run_id}"
        snap_dir = os.path.join(tdir, version)
        os.makedirs(snap_dir, exist_ok=True)
        targets: dict[str, str] = {}
        if live is not None:
            live_dir = os.path.join(tdir, live)
            affected_names = {f"{pcol}={b}" for b in affected}
            for name in os.listdir(live_dir):
                if name.startswith(f"{pcol}=") and name not in affected_names:
                    targets[name] = os.path.realpath(os.path.join(live_dir, name))
        if os.path.isdir(run_dir):
            for name in os.listdir(run_dir):
                if name.startswith(f"{pcol}="):
                    # absolute target: a relative warehouse path would make
                    # the symlink resolve relative to the LINK's directory
                    # (dangling) instead of the repo cwd
                    targets[name] = os.path.realpath(
                        os.path.join(run_dir, name)
                    )
        for name, target in targets.items():
            os.symlink(target, os.path.join(snap_dir, name))
        if not os.path.exists(meta_path):
            tmp = meta_path + ".tmp"
            with open(tmp, "w") as f:
                json.dump(
                    {
                        "key_cols": list(key_cols),
                        "n_buckets": n_buckets,
                        "partition_col": partition_col,
                    },
                    f,
                )
            os.replace(tmp, meta_path)
        self._commit_pointer(table, version)
        # Iceberg-style commit summary, one row per merge snapshot
        # (n_kept = pre-existing rows carried through the rewritten
        # buckets; rewritten-bucket total = n_kept + n_source). Stats ride
        # the write job's Observation — no extra scan.
        self.append_rows(
            f"_merge_log_{table}",
            [(table, version, n_source, n_kept, len(affected), utc_now())],
            "table string, version string, n_source long, n_kept long, "
            "n_buckets_rewritten long, ts timestamp",
        )
        return version

    def compact_table(self, table: str) -> str:
        """Rewrite the live snapshot into one fresh, fully-materialized
        version — Iceberg's ``rewrite_data_files`` (small-file compaction).

        A long-lived merge-heavy table accumulates (a) one parquet file
        set per rewritten bucket per merge and (b) snapshot dirs whose
        buckets symlink into older versions' real dirs, which blocks
        ``vacuum_table`` from retiring those versions. Compaction reads
        the live table once, writes every bucket as real files under a new
        ``v_*`` dir (one parquet file per bucket — rows re-sorted by the
        merge keys for locality), and commits via the same atomic pointer
        flip. After the retention window, ``vacuum_table`` +
        ``vacuum_merges`` can then retire the whole symlink chain.
        Returns the new version name."""
        from pyspark.sql import functions as F

        tdir = self._table_dir(table)
        meta_path = os.path.join(tdir, "MERGE_META")
        key_cols: list[str] = []
        pcol = "part_bucket"
        if os.path.exists(meta_path):
            with open(meta_path) as f:
                meta = json.load(f)
            key_cols = meta["key_cols"]
            pcol = meta.get("partition_col") or "part_bucket"
        df = self.read(table)
        if pcol in df.columns:
            # one output file per bucket dir: repartition on the partition
            # column so each task owns whole buckets (the dynamic-partition
            # write otherwise emits one file per (task, bucket) pair)
            df = df.repartition(F.col(pcol))
            if key_cols:
                df = df.sortWithinPartitions(*key_cols)
            return self.write_replace(df, table, partition_by=[pcol])
        return self.write_replace(df, table)

    def vacuum_merges(self, table: str) -> list[str]:
        """Retire ``merges/m_*`` run dirs referenced by NO retained snapshot
        (run after ``vacuum_table``). Returns removed paths."""
        import shutil

        tdir = self._table_dir(table)
        merges_dir = os.path.join(tdir, "merges")
        if not os.path.isdir(merges_dir):
            return []
        referenced: set[str] = set()
        for v in self.versions(table):
            vdir = os.path.join(tdir, v)
            for name in os.listdir(vdir):
                real = os.path.realpath(os.path.join(vdir, name))
                referenced.add(os.path.dirname(real))
        removed = []
        for m in os.listdir(merges_dir):
            mdir = os.path.join(merges_dir, m)
            if os.path.realpath(mdir) not in referenced:
                shutil.rmtree(mdir)
                removed.append(mdir)
        return removed

    # ------------------------------------------------------------ append log
    def _log_dir(self, table: str) -> str:
        return os.path.join(self._table_dir(table), "log")

    def append_rows(self, table: str, rows: list, schema) -> None:
        """Append driver-held rows (tuples in ``schema`` order; ``schema`` a
        ``StructType`` or DDL string) to the table's log as ONE parquet file
        written by pyarrow — no Spark job. The file is written and fsynced
        under a dot-prefixed name, which Spark's file listing skips, then
        renamed into place, so a reader sees all of the rows or none.
        Column types follow the Spark schema (``timestamp`` as
        ``timestamp[us, UTC]``, ``int`` as int32), so these files and
        Spark-written ones read back as one relation."""
        log_dir = self._log_dir(table)
        os.makedirs(log_dir, exist_ok=True)
        name = f"part-{uuid.uuid4().hex}.parquet"
        tmp = os.path.join(log_dir, f".{name}.tmp")
        with open(tmp, "wb") as f:
            pq.write_table(arrow_table(rows, struct_schema(schema)), f)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, os.path.join(log_dir, name))

    def read_log(self, table: str) -> DataFrame | None:
        """The table's log, or None when nothing was ever appended."""
        path = self._log_dir(table)
        if not os.path.isdir(path):
            return None
        try:
            return self.spark.read.parquet(path)
        except AnalysisException:
            return None  # no data file yet: no schema to infer

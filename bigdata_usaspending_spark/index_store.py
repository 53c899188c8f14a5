"""The persisted-index store: one lifecycle for both index families.

The engine persists two kinds of index beside its tables: ANN (IVF and
IVF-PQ, ``operators.similarity``) and positioned winnow
(``operators.dedup``).  Each index is a directory of components:

- one DATA component, named by the family, with one row per indexed item
  keyed by an id column: ``vectors.parquet`` (written ``partitionBy(cell)``
  so probes prune to the probed cells' directories) or ``fps.parquet``
  (flat; every probe scans all of it);
- bounded MODEL components the family writes at build and reads
  driver-side afterwards (``centroids.parquet``, ``codebooks.parquet``,
  ``rotation.parquet``; the winnow ``meta.json``);
- ``tombstones.parquet``: pending logical deletes, one id column;
- ``_ADD_MANIFEST.json``: ``{"batch_id": N}``, the last committed
  exactly-once add.

Every component is reached through the Hadoop FileSystem API (or the
``io`` model helpers, which fall back to it off the local filesystem), so
the layout works wherever the index lives.  An :class:`IndexStore` names a
family's data component, its partitioning, its scan hook and its stale
components; the family adds only its encode step (assign / PQ / rotation,
or fingerprinting with the saved meta), its compaction rewrite plan and its
probes.

The lifecycle contract, verb by verb:

- **Read.** :meth:`IndexStore.read_live` is the data component minus the
  tombstoned ids (a plain scan when there are none).  Every probe and stat
  reads through it.
- **Remove** is merge-on-read: the ids append to the tombstone component,
  so a removed item leaves every probe at once and is dropped from disk by
  the next compact.  Re-removing an id is harmless (the anti-join reads
  the distinct set).  Until that compact a tombstoned id cannot be
  re-added, because the anti-join would hide the new row too; every add
  refuses it (:meth:`IndexStore.refuse_tombstoned`).
- **Add-batch** is exactly-once without a table format.  A batch id at or
  below the manifest's is a replay and is skipped.  Otherwise the batch's
  ``b{id}-`` files left in the data component by a crashed attempt are
  deleted, the encoded batch is staged under ``.staging-b{id}``, each
  staged file is renamed into the data component under the ``b{id}-``
  prefix, and the manifest advances last.  The manifest holds one monotone
  batch-id sequence per index, so a stream must resume from its checkpoint
  once the manifest exists (:func:`require_checkpoint`).
- **Compact** rewrites the live rows through ``io.hadoop_swap_rewrite``
  (stage aside, rename the live component aside, rename the copy in,
  delete the old one), checks the staged row count before the live layout
  is touched, and then clears the tombstones: compaction is also the
  physical delete.  Probe results are unchanged by it.
- **Rebuild**, a build over an existing directory, writes the model and
  data components and then clears the tombstones, the manifest and every
  stale family component the new build did not write, so no state of the
  old index leaks into the new one.  A rebuild is not atomic: after a
  crash part-way, run the build again.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .io import (
    hadoop_data_file_stats,
    hadoop_delete_prefixed,
    hadoop_read_json,
    hadoop_staged_append,
    hadoop_swap_rewrite,
    hadoop_write_json,
    local_frame,
    local_rows_of,
    model_distinct_count,
    model_row_count,
    require_atomic_rename,
    write_model_parquet,
)

TOMBSTONES = "tombstones.parquet"
ADD_MANIFEST = "_ADD_MANIFEST.json"


def _fs_path(spark, path: str):
    hpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return hpath.getFileSystem(spark._jsc.hadoopConfiguration()), hpath


def has(spark, path: str, name: str) -> bool:
    """Whether component ``name`` exists in the index at ``path``."""
    fs, hpath = _fs_path(spark, f"{path}/{name}")
    return bool(fs.exists(hpath))


def delete(spark, path: str, *names: str) -> None:
    """Delete the named components of the index at ``path`` if present."""
    for name in names:
        fs, hpath = _fs_path(spark, f"{path}/{name}")
        if fs.exists(hpath):
            fs.delete(hpath, True)


def read_manifest(spark, path: str) -> "dict | None":
    """The index's add manifest, or None before the first add-batch."""
    return hadoop_read_json(spark, f"{path}/{ADD_MANIFEST}")


def require_checkpoint(spark, path: str, checkpoint, who: str) -> None:
    """Refuse to start a stream into the index without a checkpoint once
    its add manifest exists: a fresh query restarts batch ids at 0 and the
    replay check would silently skip every new batch."""
    if checkpoint:
        return
    manifest = read_manifest(spark, path)
    if manifest is not None:
        raise ValueError(
            f"{who}: index at {path!r} already has a committed add "
            f"manifest (batch_id={manifest['batch_id']}) but no "
            "checkpointLocation was given — a fresh query restarts "
            "batch_id at 0 and the exactly-once replay guard would "
            "silently discard every new batch. Pass the original "
            "checkpoint to resume."
        )


def _tombstone_ids(spark, path: str) -> "tuple[str, DataFrame]":
    """``(id column, distinct tombstoned ids)`` of the index at ``path``."""
    tomb = spark.read.parquet(f"{path}/{TOMBSTONES}")
    tcol = tomb.columns[0]
    return tcol, tomb.select(tcol).distinct()


def _write_model(df: DataFrame, path: str) -> None:
    """Overwrite one bounded model component: driver-side for a
    ``local_frame`` on a local filesystem, a Spark write otherwise."""
    rows = local_rows_of(df)
    if rows is not None:
        write_model_parquet(df.sparkSession, rows, df.schema, path)
    else:
        df.write.mode("overwrite").parquet(path)


@dataclass(frozen=True)
class IndexStore:
    """One index family's layout, driven through the shared lifecycle.

    ``family`` prefixes the verb names in messages (``ann_index``,
    ``winnow_index``); ``data`` names the data component; ``partition_by``
    is its partition column, if any; ``scan`` is applied to every scan of
    it; ``id_col`` fixes the tombstone id column (None: the caller's id
    column names it); ``stale`` lists the family components a rebuild
    clears unless it writes them."""

    family: str
    data: str
    partition_by: "str | None" = None
    scan: "Callable[[DataFrame], DataFrame] | None" = None
    id_col: "str | None" = None
    stale: "tuple[str, ...]" = ()

    def _writer(self, df: DataFrame, mode: str = "errorifexists"):
        w = df.write.mode(mode)
        return w.partitionBy(self.partition_by) if self.partition_by else w

    def read_live(self, spark, path: str) -> DataFrame:
        """The data component minus tombstoned ids.  With tombstones, the
        anti-join is AQE-sized (the set is bounded by the compaction
        cadence) and callers' partition predicates still push to the
        scan."""
        data = spark.read.parquet(f"{path}/{self.data}")
        if self.scan is not None:
            data = self.scan(data)
        if not has(spark, path, TOMBSTONES):
            return data
        tcol, tomb = _tombstone_ids(spark, path)
        return data.join(tomb, on=tcol, how="left_anti")

    def rebuild(
        self, data: DataFrame, path: str, models: "dict | None" = None
    ) -> None:
        """Write a fresh index at ``path``: the ``models`` components
        (name -> bounded frame), then the data component, then clear all
        state the old index left behind."""
        models = models or {}
        for name, frame in models.items():
            _write_model(frame, f"{path}/{name}")
        self._writer(data, "overwrite").parquet(f"{path}/{self.data}")
        delete(
            data.sparkSession, path, TOMBSTONES, ADD_MANIFEST,
            *(name for name in self.stale if name not in models),
        )

    def append(self, frame: DataFrame, path: str) -> None:
        """Plain at-least-once append of an encoded batch."""
        self._writer(frame, "append").parquet(f"{path}/{self.data}")

    def refuse_tombstoned(
        self, spark, path: str, df: DataFrame, id_col: str
    ) -> None:
        """Raise if any id of ``df[id_col]`` is pending removal."""
        if not has(spark, path, TOMBSTONES):
            return
        tcol, tomb = _tombstone_ids(spark, path)
        n_hit = (
            df.select(F.col(id_col).alias(tcol))
            .join(tomb, on=tcol, how="semi")
            .count()
        )
        if n_hit:
            raise ValueError(
                f"{n_hit} id(s) in the batch are tombstoned in the index "
                f"at {path!r} — run {self.family}_compact first (it "
                "physically drops removed rows and clears the tombstone "
                "set), then re-add"
            )

    def begin_batch(self, spark, path: str, batch_id: int) -> bool:
        """The head of an exactly-once add: False if ``batch_id`` is
        already committed; otherwise delete the batch's leftover prefix
        files from a crashed attempt and return True."""
        manifest = read_manifest(spark, path)
        if manifest is not None and batch_id <= manifest["batch_id"]:
            return False
        hadoop_delete_prefixed(spark, f"{path}/{self.data}", f"b{batch_id}-")
        return True

    def add_batch(
        self, spark, path: str, batch_id: int,
        encode: "Callable[[], DataFrame]",
    ) -> bool:
        """Exactly-once add of the frame ``encode()`` returns (called only
        when the batch is not a replay).  Returns False for a replay."""
        if not self.begin_batch(spark, path, batch_id):
            return False
        staging = f"{path}/.staging-b{batch_id}"
        self._writer(encode(), "overwrite").parquet(staging)
        hadoop_staged_append(
            spark, staging, f"{path}/{self.data}", f"b{batch_id}-"
        )
        hadoop_write_json(
            spark, f"{path}/{ADD_MANIFEST}", {"batch_id": int(batch_id)}
        )
        return True

    def remove(
        self, spark, path: str, ids, id_col: str, id_type: str
    ) -> dict:
        """Tombstone ``ids``: a DataFrame carrying ``id_col`` of type
        ``id_type``, or an iterable of id values.  Returns
        ``{"requested", "matched_live", "tombstoned_total"}``, where
        ``matched_live`` counts the ids live in the index beforehand."""
        who = f"{self.family}_remove"
        tcol = self.id_col or id_col
        if isinstance(ids, DataFrame):
            if id_col not in ids.columns:
                raise ValueError(f"{who}: ids frame has no {id_col!r} column")
            got = dict(ids.dtypes)[id_col]
            if got != id_type:
                raise ValueError(
                    f"{who}: ids column {id_col!r} has type {got} but the "
                    f"index stores {id_type}; cast the ids"
                )
            ids_df = ids.select(F.col(id_col).alias(tcol))
            requested = ids_df.count()
        else:
            rows = [(i,) for i in ids]
            requested = len(rows)
            ids_df = local_frame(spark, rows, f"{tcol} {id_type}")
        tomb_path = f"{path}/{TOMBSTONES}"
        if self.id_col is None and has(spark, path, TOMBSTONES):
            existing = spark.read.parquet(tomb_path).columns[0]
            if existing != tcol:
                raise ValueError(
                    f"{who}: existing tombstones use id column "
                    f"{existing!r}, not {tcol!r}"
                )
        matched_live = (
            self.read_live(spark, path)
            .join(ids_df.distinct(), on=tcol, how="semi")
            .count()
        )
        # iterable ids append driver-side (deduplicated here: the anti-joins
        # read the value set); DataFrame ids may be corpus-scale and keep
        # the Spark write
        local_ids = local_rows_of(ids_df)
        if local_ids is not None:
            uniq = list(dict.fromkeys(tuple(r) for r in local_ids))
            write_model_parquet(
                spark, uniq, ids_df.schema, tomb_path, mode="append"
            )
        else:
            ids_df.distinct().coalesce(1).write.mode("append").parquet(tomb_path)
        return {
            "requested": int(requested),
            "matched_live": int(matched_live),
            "tombstoned_total": int(model_distinct_count(spark, tomb_path)),
        }

    def compact(
        self, spark, path: str,
        rewrite: "Callable[[DataFrame, int], DataFrame]",
    ) -> dict:
        """Swap-compact the data component to its live rows.
        ``rewrite(live, live_bytes)`` returns the frame to write, shaped
        into the family's target files (``live_bytes`` estimates the live
        rows' share of the data bytes).  Returns ``{"files_before",
        "files_after", "rows", "removed_rows"}``."""
        op = f"{self.family}_compact"
        require_atomic_rename(path, op)
        target = f"{path}/{self.data}"
        files_before, n_bytes = hadoop_data_file_stats(spark, target)
        # one pass for both counts: without tombstones live == physical
        # (a footer count); with them, one left-join aggregate
        if not has(spark, path, TOMBSTONES):
            n_physical = n_rows = model_row_count(spark, target)
        else:
            data = spark.read.parquet(target)
            tcol, tomb = _tombstone_ids(spark, path)
            row = (
                data.join(tomb.withColumn("_t", F.lit(1)), on=tcol, how="left")
                .agg(
                    F.count(F.lit(1)).alias("physical"),
                    F.count(F.when(F.col("_t").isNull(), F.lit(1))).alias(
                        "live"
                    ),
                )
                .collect()[0]
            )
            n_physical, n_rows = int(row["physical"]), int(row["live"])
        live_bytes = (
            n_bytes if n_physical == 0 else (n_bytes * n_rows) // n_physical
        )

        def write_tmp(tmp: str) -> None:
            self._writer(
                rewrite(self.read_live(spark, path), live_bytes)
            ).parquet(tmp)
            staged = model_row_count(spark, tmp)
            if staged != n_rows:
                raise IOError(
                    f"{op}: staged rewrite holds {staged} rows, expected "
                    f"{n_rows}; aborting before touching the live layout"
                )

        hadoop_swap_rewrite(spark, target, write_tmp, op)
        delete(spark, path, TOMBSTONES)
        files_after, _ = hadoop_data_file_stats(spark, target)
        return {
            "files_before": files_before,
            "files_after": files_after,
            "rows": n_rows,
            "removed_rows": n_physical - n_rows,
        }

    def layout_stats(self, spark, path: str) -> dict:
        """``{"tombstones", "data_files", "data_bytes"}``: the pending
        delete backlog and the fragmentation signal that schedules a
        compact."""
        n_files, n_bytes = hadoop_data_file_stats(spark, f"{path}/{self.data}")
        n_tomb = (
            model_distinct_count(spark, f"{path}/{TOMBSTONES}")
            if has(spark, path, TOMBSTONES)
            else 0
        )
        return {"tombstones": n_tomb, "data_files": n_files, "data_bytes": n_bytes}

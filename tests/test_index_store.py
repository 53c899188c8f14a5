"""The persisted-index store's lifecycle contract, run against both index
families (IVF vectors and positioned winnow fingerprints) on tiny local
frames: exactly-once add-batch, the crashed-batch redo, merge-on-read
remove, swap compaction, rebuild, and the on-disk layout."""

from __future__ import annotations

import os
import re

import pytest

from bigdata_usaspending_spark import index_store
from bigdata_usaspending_spark.io import local_frame, write_model_parquet
from bigdata_usaspending_spark.operators import dedup, similarity

_WORDS = (
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo "
    "lima mike november oscar papa quebec romeo sierra tango uniform"
).split()


class _Ann:
    store = similarity.ANN
    layout = {"centroids.parquet", "vectors.parquet"}

    def frame(self, spark, ids):
        rows = [
            (i, [float(i % 3 == 0), float(i % 3 == 1), float(i % 3 == 2),
                 0.1 * i])
            for i in ids
        ]
        return spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    def build(self, spark, path, ids):
        cents = local_frame(
            spark,
            [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0, 0.0]),
             (2, [0.0, 0.0, 1.0, 0.0])],
            "cell int, centroid array<double>",
        )
        similarity.ivf_index_write(self.frame(spark, ids), cents, path)

    def add(self, spark, path, ids):
        similarity.ivf_index_add(spark, path, self.frame(spark, ids))

    def add_batch(self, spark, path, ids, batch_id):
        return similarity.ann_index_add_batch(
            spark, path, self.frame(spark, ids), batch_id
        )

    def remove(self, spark, path, ids):
        return similarity.ann_index_remove(spark, path, ids)

    def compact(self, spark, path):
        return similarity.ann_index_compact(spark, path)

    def live(self, spark, path):
        return similarity._read_index_vectors(spark, path)

    def live_count(self, spark, path):
        return similarity.ann_index_stats(spark, path)["vectors"]

    id_col = "vec_id"


class _Winnow:
    store = dedup.WINNOW
    layout = {"meta.json", "fps.parquet"}

    def frame(self, spark, ids):
        rows = [
            (i, " ".join(_WORDS[(i + j) % len(_WORDS)] for j in range(8))
             + f" doc {i}")
            for i in ids
        ]
        return spark.createDataFrame(rows, "doc_id long, text string")

    def build(self, spark, path, ids):
        dedup.winnow_pos_index_write(
            self.frame(spark, ids), path, k=5, w=3, portable=True
        )

    def add(self, spark, path, ids):
        dedup.winnow_pos_index_add(spark, path, self.frame(spark, ids))

    def add_batch(self, spark, path, ids, batch_id):
        return dedup.winnow_index_add_batch(
            spark, path, self.frame(spark, ids), batch_id
        )

    def remove(self, spark, path, ids):
        return dedup.winnow_index_remove(spark, path, ids)

    def compact(self, spark, path):
        return dedup.winnow_index_compact(spark, path)

    def live(self, spark, path):
        return dedup.WINNOW.read_live(spark, path)

    def live_count(self, spark, path):
        return dedup.winnow_index_stats(spark, path)["docs"]

    id_col = "_id"


@pytest.fixture(params=["ann", "winnow"])
def fam(request):
    return {"ann": _Ann, "winnow": _Winnow}[request.param]()


def _ids(fam, df):
    return sorted(r[0] for r in df.select(fam.id_col).collect())


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _data_files(path, component):
    out = []
    for root, dirs, files in os.walk(os.path.join(path, component)):
        dirs[:] = [d for d in dirs if not d.startswith((".", "_"))]
        out += [f for f in files if not f.startswith((".", "_"))]
    return out


def test_add_batch_replay_is_skipped(spark, tmp_path, fam):
    path = str(tmp_path / "idx")
    fam.build(spark, path, [1, 2, 3, 4])
    assert fam.add_batch(spark, path, [5, 6], 0)
    assert not fam.add_batch(spark, path, [5, 6], 0)
    assert index_store.read_manifest(spark, path) == {"batch_id": 0}
    assert _ids(fam, fam.live(spark, path)) == [1, 2, 3, 4, 5, 6]
    assert fam.live_count(spark, path) == 6


def test_crashed_batch_prefix_files_are_cleaned_on_redo(
    spark, tmp_path, fam, monkeypatch
):
    path = str(tmp_path / "idx")
    fam.build(spark, path, [1, 2])

    def crash(*_a, **_k):
        raise IOError("crash before the manifest advance")

    # the batch's files are renamed in, then the process dies
    monkeypatch.setattr(index_store, "hadoop_write_json", crash)
    with pytest.raises(IOError, match="crash"):
        fam.add_batch(spark, path, [3, 4], 3)
    monkeypatch.undo()
    data = fam.store.data
    leftovers = [f for f in _data_files(path, data) if f.startswith("b3-")]
    assert leftovers and index_store.read_manifest(spark, path) is None
    # the redo deletes the leftovers and commits each row exactly once
    assert fam.add_batch(spark, path, [3, 4], 3)
    assert _ids(fam, fam.live(spark, path)) == [1, 2, 3, 4]
    redone = [f for f in _data_files(path, data) if f.startswith("b3-")]
    assert len(redone) == len(leftovers)
    assert index_store.read_manifest(spark, path) == {"batch_id": 3}


def test_removed_id_leaves_live_read_and_readd_is_refused(
    spark, tmp_path, fam
):
    path = str(tmp_path / "idx")
    fam.build(spark, path, [1, 2, 3, 4])
    rep = fam.remove(spark, path, [2, 9])
    assert rep == {"requested": 2, "matched_live": 1, "tombstoned_total": 2}
    assert _ids(fam, fam.live(spark, path)) == [1, 3, 4]
    assert fam.live_count(spark, path) == 3
    with pytest.raises(ValueError, match="tombstoned"):
        fam.add(spark, path, [2])
    with pytest.raises(ValueError, match="tombstoned"):
        fam.add_batch(spark, path, [2], 0)
    # re-removing is harmless
    assert fam.remove(spark, path, [2])["tombstoned_total"] == 2


def test_compact_drops_removed_rows_and_clears_tombstones(
    spark, tmp_path, fam
):
    path = str(tmp_path / "idx")
    fam.build(spark, path, [1, 2, 3, 4])
    assert fam.add_batch(spark, path, [5, 6], 0)
    fam.remove(spark, path, [2, 5])
    live_before = _rows(fam.live(spark, path))
    rep = fam.compact(spark, path)
    assert rep["rows"] == 4 and rep["removed_rows"] == 2
    assert not index_store.has(spark, path, index_store.TOMBSTONES)
    physical = spark.read.parquet(f"{path}/{fam.store.data}")
    assert _ids(fam, physical) == [1, 3, 4, 6]
    assert _rows(fam.live(spark, path)) == live_before
    # compaction keeps the manifest: committed batches stay skipped
    assert not fam.add_batch(spark, path, [5, 6], 0)


def test_rebuild_clears_tombstones_and_manifest(spark, tmp_path, fam):
    path = str(tmp_path / "idx")
    fam.build(spark, path, [1, 2, 3])
    assert fam.add_batch(spark, path, [4], 7)
    fam.remove(spark, path, [1])
    fam.build(spark, path, [1, 2, 3])
    assert not index_store.has(spark, path, index_store.TOMBSTONES)
    assert index_store.read_manifest(spark, path) is None
    assert _ids(fam, fam.live(spark, path)) == [1, 2, 3]
    # a fresh stream's batch 0 applies instead of replay-skipping
    assert fam.add_batch(spark, path, [4], 0)
    assert fam.live_count(spark, path) == 4


def test_ann_rebuild_clears_stale_family_components(spark, tmp_path):
    ann = _Ann()
    path = str(tmp_path / "idx")
    ann.build(spark, path, [1, 2, 3])
    for name in ("codebooks.parquet", "rotation.parquet"):
        write_model_parquet(spark, [(0, [1.0])], "i int, vals array<double>",
                            f"{path}/{name}")
    ann.build(spark, path, [1, 2, 3])
    assert not index_store.has(spark, path, "codebooks.parquet")
    assert not index_store.has(spark, path, "rotation.parquet")


def _components(path):
    return {n for n in os.listdir(path) if not n.startswith(".")}


def test_layout_file_names(spark, tmp_path, fam):
    path = str(tmp_path / "idx")
    fam.build(spark, path, [1, 2, 3, 4])
    assert _components(path) == fam.layout
    assert fam.add_batch(spark, path, [5], 0)
    fam.remove(spark, path, [1])
    assert _components(path) == fam.layout | {
        "tombstones.parquet", "_ADD_MANIFEST.json",
    }
    data = os.path.join(path, fam.store.data)
    if fam.store.partition_by:
        assert all(
            re.fullmatch(r"cell=\d+", d)
            for d in os.listdir(data) if not d.startswith(("_", "."))
        )
    assert any(f.startswith("b0-part-") for f in _data_files(path, fam.store.data))
    tomb = spark.read.parquet(f"{path}/tombstones.parquet")
    assert tomb.columns == [fam.id_col]


def test_layout_literals_live_only_in_the_store():
    store_file = os.path.abspath(index_store.__file__)
    pkg = os.path.dirname(store_file)
    offenders = []
    for root, _dirs, files in os.walk(pkg):
        for name in files:
            full = os.path.join(root, name)
            if not name.endswith(".py") or full == store_file:
                continue
            with open(full, encoding="utf-8") as fh:
                text = fh.read()
            for literal in ("tombstones.parquet", "_ADD_MANIFEST.json"):
                if literal in text:
                    offenders.append((os.path.relpath(full, pkg), literal))
    assert offenders == []

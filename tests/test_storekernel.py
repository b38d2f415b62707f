"""The store kernel's one layout (streaming/storekernel.py): a sharded
keyed store is ``shard=`` directories of batch-stamped files under a
manifest carrying ``covered_default``. A store in any other layout —
data files at its root, or the older scalar-cut manifest — is refused
by every reader and fold with one ValueError naming the store, never
read."""

from __future__ import annotations

import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from go_fish_spark.streaming import labelstore as ls
from go_fish_spark.streaming import sigstore as ss
from go_fish_spark.streaming import storekernel as sk


def _sig_store(spark, store_dir):
    """A committed maintenance-stream store: one label patch, one sig
    patch, batch 0 published. Returns (labels path, sigs path)."""
    labels = os.path.join(store_dir, "labels")
    sigs = os.path.join(store_dir, "_sigs")
    ls.append_label_patch(
        spark.createDataFrame([(1, 1), (2, 1)], "id long, component long"),
        labels, batch_id=0, n_shards=4,
    )
    ss.append_sig_patch(
        spark.createDataFrame(
            [(1, [1, 2]), (2, [1, 3])], "_id long, _sig array<bigint>"
        ),
        sigs, 0, id_col="_id", n_shards=4,
    )
    sk.publish_commit(store_dir, 0)
    return labels, sigs


def _root_file(path):
    """A flat data file at the store root: the append form used before
    the shard/stamp discipline."""
    pq.write_table(
        pa.table({"_id": [9], "id": [9], "component": [9]}),
        os.path.join(path, "part-00000-flat.snappy.parquet"),
    )


def _scalar_manifest(path):
    """The manifest form that predates the per-shard cut: no
    ``covered_default``."""
    with open(sk.store_manifest_path(path), "w") as fh:
        json.dump({"gen": 1, "covered_max_batch": 0, "version": 1}, fh)


READERS = {
    "read_signature_store": lambda spark, d, labels, sigs: (
        ss.read_signature_store(spark, sigs, id_col="_id")
    ),
    "read_committed_store": lambda spark, d, labels, sigs: (
        ls.read_committed_store(spark, d)
    ),
    "read_label_store": lambda spark, d, labels, sigs: (
        ls.read_label_store(spark, labels)
    ),
    "compact_signature_store": lambda spark, d, labels, sigs: (
        ss.compact_signature_store(spark, sigs, "_id", n_shards=4)
    ),
}


@pytest.mark.parametrize("layout", ["root_file", "scalar_manifest"])
@pytest.mark.parametrize("reader", sorted(READERS))
def test_pre_discipline_store_is_rejected(spark, tmp_path, reader, layout):
    store_dir = str(tmp_path / "store")
    labels, sigs = _sig_store(spark, store_dir)
    target = labels if reader == "read_label_store" else sigs
    # the untouched store reads, so the error below is the layout's
    READERS[reader](spark, store_dir, labels, sigs)
    (_root_file if layout == "root_file" else _scalar_manifest)(target)
    with pytest.raises(ValueError, match="rebuild from a fresh store") as e:
        READERS[reader](spark, store_dir, labels, sigs)
    assert target in str(e.value)

"""Every commit dir is read with the schema its manifest records
(``MorTable._read_commit``). Commits whose column sets differ must still
union by name, NULL where a commit lacks a column, exactly as a union
of reads that infer each dir's schema returns them."""

from __future__ import annotations

import json
from functools import reduce

from mongodb_iceberg_sync_spark.sync.table_store import MANIFEST, MorTable

_OPS = "doc_id string, _op_seq long, _op string"


def _table(spark, tmp_path) -> MorTable:
    t = MorTable(spark, str(tmp_path / "t"), key="doc_id")
    # commit A: v and cat
    t.commit_batch(
        spark.createDataFrame(
            [("a", 1, "upsert", 10, "red"), ("b", 2, "upsert", 20, "blue")],
            f"{_OPS}, v long, cat string",
        ),
        0,
    )
    # commit B: adds w, has no cat
    t.commit_batch(
        spark.createDataFrame(
            [("b", 3, "upsert", 21, 2.5), ("c", 4, "upsert", 30, 3.5)],
            f"{_OPS}, v long, w double",
        ),
        1,
    )
    return t


def _rows(df) -> list[dict]:
    return sorted(
        (r.asDict() for r in df.collect()),
        key=lambda d: tuple(sorted((k, repr(v)) for k, v in d.items())),
    )


def _inferred_union(t: MorTable):
    """Oracle: one schema-inferring read per commit dir, unioned by name."""
    reads = [t.spark.read.parquet(d) for d in t.prune_batches()]
    return reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), reads)


def _check(t: MorTable) -> None:
    a = {"doc_id": "a", "v": 10, "cat": "red", "w": None}
    b = {"doc_id": "b", "v": 21, "cat": None, "w": 2.5}
    c = {"doc_id": "c", "v": 30, "cat": None, "w": 3.5}
    assert _rows(t.snapshot()) == _rows(t.spark.createDataFrame([a, b, c]))
    # the key's bounds skip commit B, so its w column is not read
    assert [r.asDict() for r in t.lookup("a").collect()] == [
        {"doc_id": "a", "v": 10, "cat": "red"}
    ]
    assert [r.asDict() for r in t.lookup("b").collect()] == [b]
    changes = {r.doc_id: r.asDict() for r in t.changes(from_batch=0).collect()}
    assert changes == {
        "b": dict(b, change_type="update"),
        "c": dict(c, change_type="insert"),
    }
    oracle = _inferred_union(t).drop("_op_seq", "_op")
    assert _rows(t.scan_append()) == _rows(oracle)
    assert len(_rows(oracle)) == 4
    ranged = t.scan_append(where_bounds={"v": (20, 25)})
    assert _rows(ranged) == _rows(oracle.filter("v BETWEEN 20 AND 25"))
    assert {(r.cat, r.w) for r in ranged.collect()} == {("blue", None), (None, 2.5)}


def test_commits_with_different_column_sets(spark, tmp_path):
    t = _table(spark, tmp_path)
    for b in (0, 1):
        with open(f"{t.delta_dir}/batch={b}/{MANIFEST}") as f:
            names = [c["name"] for c in json.load(f)["schema"]["fields"]]
        assert names == ["doc_id", "_op_seq", "_op", "v", ["cat", "w"][b]]
    _check(t)


def test_manifest_without_schema_falls_back_to_inference(spark, tmp_path):
    # a manifest written before the schema field existed
    t = _table(spark, tmp_path)
    path = f"{t.delta_dir}/batch=0/{MANIFEST}"
    with open(path) as f:
        m = json.load(f)
    del m["schema"]
    with open(path, "w") as f:
        json.dump(m, f)
    _check(t)

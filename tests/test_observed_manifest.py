"""Manifests built from the commit write's own Observation must be
field-identical to manifests built by reading the committed files back
(the former implementation, kept below as the oracle) on every commit
path: commit_batch, commit_to_branch, stage_batch, and publish_batch's
op_seq rebase (tests/test_bulk_commit.py holds the bulk path to the
loop's manifests). The recorded schema is the one a read of the files
infers, minus the partition column. Under a partition spec the read
path re-infers the partition column's type from directory names; where
that type holds different JSON values than the written one the observed
manifest omits the column's bounds, and pruning keeps every commit it
kept before."""

from __future__ import annotations

import json
import shutil

from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from mongodb_iceberg_sync_spark.sync.table_store import (
    MANIFEST,
    OP_SEQ,
    OP_TYPE,
    MorTable,
)

_SCHEMA = (
    "doc_id {key_type}, _op_seq long, _op string, day string, "
    "n long, x double, tag string, small short, note string, ts timestamp"
)


def _read_back_manifest(t: MorTable, target: str) -> dict:
    """Oracle: the manifest as computed from the files on disk — schema
    inference, a column-stats agg, a key and op_seq min/max agg and a
    distinct collect of the key's bloom positions."""
    df = t.spark.read.parquet(target)
    stat_cols = [
        f.name
        for f in df.schema.fields
        if f.name not in (OP_SEQ, OP_TYPE)
        and f.dataType.typeName()
        in ("long", "integer", "double", "float", "string", "short", "byte")
    ]
    row = df.agg(
        F.min(t.key).alias("lo"),
        F.max(t.key).alias("hi"),
        F.min(OP_SEQ).alias("slo"),
        F.max(OP_SEQ).alias("shi"),
        *[F.min(c).alias(f"lo_{c}") for c in stat_cols],
        *[F.max(c).alias(f"hi_{c}") for c in stat_cols],
    ).head()
    columns = {}
    for c in stat_cols:
        lo_v, hi_v = row[f"lo_{c}"], row[f"hi_{c}"]
        if isinstance(lo_v, (int, float, str)) and isinstance(hi_v, (int, float, str)):
            columns[c] = {"min": lo_v, "max": hi_v}
    h = F.md5(F.col(t.key).cast("string"))
    positions = [
        F.conv(F.substring(h, start, ln), 16, 10).cast("long") % t._BLOOM_BITS
        for start, ln in t._BLOOM_SLICES
    ]
    bitmap = 0
    for r in (
        df.filter(F.col(t.key).isNotNull())
        .select(F.explode(F.array(*positions)).alias("pos"))
        .distinct()
        .collect()
    ):
        bitmap |= 1 << int(r.pos)
    return {
        "key": t.key,
        "min": row.lo,
        "max": row.hi,
        "seq_min": row.slo,
        "seq_max": row.shi,
        "bloom_bits": t._BLOOM_BITS,
        "bloom": format(bitmap, "x"),
        "spec": t.partition_col,
        "columns": columns,
        "schema": StructType(
            [f for f in df.schema.fields if f.name != t.partition_col]
        ).jsonValue(),
    }


def _on_disk(target: str) -> dict:
    with open(f"{target}/{MANIFEST}") as f:
        return json.load(f)


def _batch(spark, keys, seq0, key_type="string", day=lambda i: f"d{i % 3}"):
    from datetime import datetime

    rows = [
        (
            k,
            seq0 + i,
            "delete" if i % 5 == 4 else "upsert",
            day(i),
            None if i % 4 == 3 else i * 7 - 20,
            i * 0.25 - 1.0,
            f"t{i % 2}",
            i,
            None,  # an all-NULL column records no bounds
            datetime(2024, 1, 1 + i % 28),
        )
        for i, k in enumerate(keys)
    ]
    return spark.createDataFrame(rows, _SCHEMA.format(key_type=key_type))


def _assert_matches_oracle(t: MorTable, target: str) -> None:
    assert _on_disk(target) == _read_back_manifest(t, target), target


def test_string_int_and_null_keys(spark, tmp_path):
    t = MorTable(spark, str(tmp_path / "s"), key="doc_id")
    n = t.commit_batch(_batch(spark, ["m", "b", "zz", "", "q", "b2"], 0), 0)
    assert n == 6
    t.commit_batch(_batch(spark, ["k", None, "a", None], 10), 1)
    for b in (0, 1):
        _assert_matches_oracle(t, f"{t.delta_dir}/batch={b}")
    assert _on_disk(f"{t.delta_dir}/batch=1")["min"] == "a"

    ti = MorTable(spark, str(tmp_path / "i"), key="doc_id")
    ti.commit_batch(_batch(spark, [5, -3, 10**12, 7], 0, key_type="long"), 0)
    ti.commit_batch(_batch(spark, [None, 2], 10, key_type="long"), 1)
    for b in (0, 1):
        _assert_matches_oracle(ti, f"{ti.delta_dir}/batch={b}")
    assert _on_disk(f"{ti.delta_dir}/batch=0")["max"] == 10**12


def test_empty_commit(spark, tmp_path):
    t = MorTable(spark, str(tmp_path / "e"), key="doc_id")
    assert t.commit_batch(_batch(spark, ["a"], 0).filter(F.lit(False)), 0) == 0
    target = f"{t.delta_dir}/batch=0"
    _assert_matches_oracle(t, target)
    m = _on_disk(target)
    assert m["min"] is None and m["bloom"] == "0" and m["columns"] == {}
    assert t.prune_batches() == []  # an empty commit is never opened
    # partitioned: no data file is written, so there is nothing to read
    # back; the observed manifest still lands
    tp = MorTable(spark, str(tmp_path / "ep"), key="doc_id", partition_col="day")
    assert tp.commit_batch(_batch(spark, ["a"], 0).filter(F.lit(False)), 0) == 0
    schema = dict(m["schema"])
    schema["fields"] = [f for f in schema["fields"] if f["name"] != "day"]
    assert _on_disk(f"{tp.delta_dir}/batch=0") == dict(m, spec="day", schema=schema)


def test_commit_to_branch(spark, tmp_path):
    t = MorTable(spark, str(tmp_path / "br"), key="doc_id")
    t.commit_batch(_batch(spark, ["a", "b"], 0), 0)
    t.create_branch("audit")
    t.commit_to_branch(_batch(spark, ["c", "a", None], 10), 1, "audit")
    _assert_matches_oracle(t, f"{t.branches_dir}/audit/batch=1")


def test_stage_and_publish_with_seq_rebase(spark, tmp_path):
    t = MorTable(spark, str(tmp_path / "wap"), key="doc_id")
    t.commit_batch(_batch(spark, ["a", "b", "c"], 100), 0)
    # staged seqs (1..) collide with the committed ones: publish rebases
    t.stage_batch(_batch(spark, ["b", "d", "e"], 1), 1)
    staged = f"{t.staging_dir}/batch=1"
    _assert_matches_oracle(t, staged)
    before = _on_disk(staged)
    t.publish_batch(1)
    published = dict(t._dirs("deltas"))[1]
    seqs = spark.read.parquet(published).agg(F.min(OP_SEQ)).head()[0]
    assert seqs > 102  # the rebase ran
    _assert_matches_oracle(t, published)
    after = _on_disk(published)
    # only the op_seq bounds move, by the rebase's shift
    assert after.pop("seq_min") == seqs and after.pop("seq_max") - seqs == 2
    assert after == {k: v for k, v in before.items() if k not in ("seq_min", "seq_max")}


def _oracle_copy(t: MorTable, dst) -> MorTable:
    """The same table with every commit manifest rebuilt by the oracle."""
    shutil.copytree(t.path, dst)
    o = MorTable(t.spark, str(dst), key=t.key)
    for d in t._ids("deltas"):
        target = f"{o.delta_dir}/batch={d}"
        manifest = _read_back_manifest(o, target)
        with open(f"{target}/{MANIFEST}", "w") as f:
            json.dump(manifest, f)
    return o


def _pruned(t: MorTable, **kw) -> list[str]:
    return [p.rsplit("/", 1)[1] for p in t.prune_batches(**kw)]


def test_partitioned_commits(spark, tmp_path):
    # date-like and plain string partition values: identical manifests
    for col, day in (
        ("day", lambda i: f"2024-01-0{1 + i % 2}"),
        ("tag", None),
    ):
        t = MorTable(spark, str(tmp_path / col), key="doc_id", partition_col=col)
        kw = {"day": day} if day else {}
        t.commit_batch(_batch(spark, ["a", "c", "b", "e"], 0, **kw), 0)
        t.commit_batch(_batch(spark, ["d", "b"], 10, **kw), 1)
        for b in (0, 1):
            _assert_matches_oracle(t, f"{t.delta_dir}/batch={b}")
        cols = _on_disk(f"{t.delta_dir}/batch=0")["columns"]
        # a date-like string reads back as a date: no bounds either way
        assert ("day" in cols) == (col != "day")


def test_partition_value_read_back_as_number(spark, tmp_path):
    """Pinned difference: a string partition column holding digits reads
    back as an int, so the read-back recorded int bounds; the observed
    manifest omits the column (string bounds would compare "10" < "9"
    while the read path compares 10 > 9). Pruning keeps a superset."""
    t = MorTable(spark, str(tmp_path / "num"), key="doc_id", partition_col="day")
    t.commit_batch(_batch(spark, ["a", "c", "b"], 0, day=lambda i: str(9 + i)), 0)
    t.commit_batch(_batch(spark, ["d", "e"], 10, day=lambda i: str(20 + i)), 1)
    o = _oracle_copy(t, tmp_path / "num_oracle")
    for b in (0, 1):
        got = _on_disk(f"{t.delta_dir}/batch={b}")
        want = _on_disk(f"{o.delta_dir}/batch={b}")
        assert want["columns"].pop("day")["min"] in (9, 20)
        assert "day" not in got["columns"]
        assert got == want
    for kw in (
        {},
        {"lo": "b", "hi": "b"},
        {"lo": "d", "hi": "d"},
        {"lo": "c"},
        {"hi": "a"},
        {"col_bounds": {"n": (0, None)}},
        {"col_bounds": {"x": (None, -0.5)}},
        {"col_bounds": {"tag": ("t1", "t1")}},
    ):
        assert _pruned(t, **kw) == _pruned(o, **kw), kw
    bounds = {"col_bounds": {"day": (20, 30)}}
    assert _pruned(o, **bounds) == ["batch=1"]
    assert _pruned(t, **bounds) == ["batch=0", "batch=1"]
    rows = t.scan_append(where_bounds={"day": (20, 30)})
    assert sorted(r.doc_id for r in rows.collect()) == ["d", "e"]

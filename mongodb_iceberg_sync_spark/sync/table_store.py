"""Merge-on-read key-value table on plain parquet (reference A12-A15).

The reference targets Iceberg merge-on-read: upsert = equality-delete
old row + append new; delete = equality-delete (reference
docs/design.md:291-300). No Iceberg runtime jar ships in this
environment, so this module re-creates the same semantics on bare
parquet, structured the way Iceberg is: a log of table versions over
write-once data dirs.

  {table}/metadata/v<N>.json — table version N; the newest is current
  {table}/base/v<N>/         — a base dir (compacted or backfilled rows)
  {table}/deltas/batch=<id>/ — a data commit (upserts and tombstones)
  {table}/pos_deletes/delete=<id>/, {table}/eq_deletes/delete=<id>/
                             — positional and equality delete files
  {table}/branches/<name>/batch=<id>/ — a commit on a branch
  {table}/staging/batch=<id>/ — a write-audit-publish batch; not table
                               state until publish_batch

Every data dir holds its rows and a ``_manifest.json`` (schema and spec;
for a data commit also key, op_seq and column bounds and a key bloom)
and is never written again once a version lists it: a replay writes a
fresh ``<dir>.v<N>``. A version lists, by path, the live base dirs, main's
commits and delete files (id → dir), the partition-spec history,
branches and tags, the batch compaction folded through (which bounds
time travel), the partitions a partial compaction masked, and the
archived base generations. It stays about 100 bytes per live commit.

- Read  = the current version's base ∪ commits less the rows delete
  files strike, each dir read with its manifest's schema, so building
  the read runs no Spark job; last-writer-wins by (key, op_seq),
  tombstones dropped (Iceberg's MoR).
- Write = write a fresh dir (a commit: the write and its shuffle
  stages, statistics observed on the write), then publish the next
  version (_publish): a temp file hard-linked to v<N+1>, which fails if
  that version exists. That link is the one commit point of every
  state change, so a reader sees the whole change or none of it, and a
  crash anywhere before it leaves the previous version (reference A21
  at-least-once protocol, docs/design.md:339-348).
- Compact = one fold step (_fold) behind compact(), compact(where=...)
  and truncate(): write a new base dir and publish a version that lists
  it in place of what it absorbed (reference A24 RewriteDataFiles,
  docs/design.md:394-400) — two Spark jobs, the merged view's shuffle
  stage and the write. Nothing is renamed or deleted; the replaced dirs
  stay on disk until expire_snapshots().

Scale: the merged view is one shuffle on the key (max_by aggregation,
partial-aggregatable map-side). With Iceberg jars on a real cluster,
SparkCatalog + MERGE INTO replaces this file-level bookkeeping 1:1 —
the apply/backfill layers only depend on the upsert/delete/read
contract, so swapping backends is a constructor change.
"""

from __future__ import annotations

import copy
import json
import os
import shutil
import uuid
from functools import reduce

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

OP_SEQ = "_op_seq"  # total order of applied ops (resume-token position)
OP_TYPE = "_op"  # upsert | delete
TOMBSTONE = "delete"
MANIFEST = "_manifest.json"  # per-dir schema and stats (data skipping)
_BULK_COL = "__bulk_batch"  # commit_batches' partition column
_COMMITS = ("deltas", "pos_deletes", "eq_deletes")  # main's commit kinds


def sql_ident(name: str) -> str:
    """``name`` quoted as a SQL identifier, for expressions built as text."""
    return "`" + name.replace("`", "``") + "`"


def _as_read(t):
    """A schema's JSON as a parquet read returns it: every field, array
    element and map value nullable."""
    if isinstance(t, list):
        return [_as_read(x) for x in t]
    if isinstance(t, dict):
        nullable = ("nullable", "containsNull", "valueContainsNull")
        return {k: True if k in nullable else _as_read(v) for k, v in t.items()}
    return t


class SnapshotExpiredError(ValueError):
    """VERSION AS OF predates the last compaction — like Iceberg reading
    an expired snapshot, this FAILS instead of silently returning the
    compacted base (which folds later batches) as if it were history."""


class MorTable:
    """A keyed merge-on-read table rooted at a directory.

    ``partition_col`` (optional) directory-partitions base and delta
    files by that column — the analog of an Iceberg partition spec —
    enabling partition-targeted compaction (`compact(where=...)`) that
    rewrites only cold partitions and never touches hot partitions'
    files (reference docs/design.md:396-400).
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        key: str,
        partition_col: str | None = None,
    ):
        self.spark = spark
        self.path = path.rstrip("/")
        self.key = key
        self._v: dict | None = None  # the newest version read
        # Partition spec lives in the version, not the constructor: like
        # Iceberg, the spec can EVOLVE without rewriting data, so
        # reopening a table must recover the current spec from its
        # metadata, and a constructor arg only seeds a NEW table.
        if not os.path.isdir(self._meta) and os.path.isdir(self.delta_dir):
            # written before the version log (which always made deltas/):
            # an empty log over it would hide its rows from every read
            raise ValueError(f"{self.path} has deltas/ but no metadata/: an older layout")
        os.makedirs(self._meta, exist_ok=True)
        if not self._versions():
            col = partition_col
            spec = {"current": col, "history": [{"spec_id": 0, "col": col}]}
            try:
                self._publish(
                    {"version": -1, "spec": spec, "gen": 0, "folded": None, "base": [],
                     "archive": [], **{k: {} for k in ("drop", "branches", "tags", *_COMMITS)}}
                )
            except FileExistsError:
                pass  # another handle created it first
        elif partition_col is not None and self.partition_col != partition_col:
            raise ValueError(
                f"table at {self.path} has partition spec "
                f"{self.partition_col!r}; pass partition_col=None to reopen "
                "or evolve_partition_spec() to change it"
            )

    # -- the version log (Iceberg table-metadata analog) ----------------

    @property
    def _meta(self) -> str:
        return f"{self.path}/metadata"

    def _vpath(self, n: int) -> str:
        return f"{self._meta}/v{n}.json"

    def _versions(self) -> list[int]:
        """Numbers of the versions on disk, oldest first."""
        return sorted(
            int(f[1:-5]) for f in os.listdir(self._meta) if f[0] == "v" and f[-5:] == ".json"
        )

    def _load(self, n: int) -> dict:
        with open(self._vpath(n)) as f:
            return json.load(f)

    def _current(self) -> dict:
        """The current (newest) version; two stats per call once loaded.
        The log is listed again once the version last read is gone: an
        expiry (by any handle) removed it and the ones after it."""
        n = self._v["version"] if self._v else None
        while True:
            if n is None or not os.path.exists(self._vpath(n)):
                n = self._versions()[-1]
            while os.path.exists(self._vpath(n + 1)):
                n += 1
            try:
                if self._v is None or self._v["version"] != n:
                    self._v = self._load(n)
                return self._v
            except FileNotFoundError:
                n = None  # expired between the probe and the read

    def _state(self) -> dict:
        """A copy of the current version to build the next one from."""
        return copy.deepcopy(self._current())

    def _publish(self, s: dict) -> None:
        """Write ``s`` as the version after the one it was built from: the
        one commit point of every state change. A temp file is
        hard-linked to v<N+1>; the link fails if that version exists, so
        a version is never overwritten (FileExistsError: another writer
        committed first), nor linked into a slot an expiry emptied (the
        version ``s`` came from is gone too). Masks of dirs no longer
        live are dropped."""
        live = self._live(s)
        s["drop"] = {d: m for d, m in s["drop"].items() if d in live}
        if s["version"] >= 0 and not os.path.exists(self._vpath(s["version"])):
            raise FileExistsError(f"version {s['version']} of {self.path} was expired")
        s["version"] += 1
        tmp = f"{self._meta}/.v{s['version']}-{uuid.uuid4().hex}.tmp"
        with open(tmp, "w") as f:
            json.dump(s, f)
        try:
            os.link(tmp, self._vpath(s["version"]))
        finally:
            os.unlink(tmp)
        self._v = s

    @property
    def version(self) -> int:
        """The current table version: the N of metadata/v<N>.json, which
        every state change advances by one (Checkpoint.last_snapshot_id)."""
        return self._current()["version"]

    @staticmethod
    def _slot(s: dict, kind: str) -> dict:
        """The id → dir map commits of ``kind`` land in: one of _COMMITS,
        or ``branches/<name>``."""
        if kind.startswith("branches/"):
            return s["branches"][kind.split("/", 1)[1]]["batches"]
        return s[kind]

    @staticmethod
    def _live(s: dict) -> set[str]:
        """Every dir version ``s`` reads: base, commits, branch commits."""
        dirs = set(s["base"]).union(*(s[k].values() for k in _COMMITS))
        return dirs.union(*(b["batches"].values() for b in s["branches"].values()))

    @classmethod
    def _listed(cls, s: dict) -> set[str]:
        """Every dir version ``s`` retains: the live ones and the archive."""
        return cls._live(s).union(*(g["dirs"] for g in s["archive"]))

    def _abs(self, rel: str) -> str:
        return f"{self.path}/{rel}"

    def _fresh(self, rel: str, s: dict) -> str:
        """Where a dir bound for ``rel`` in the version after ``s`` is
        written: ``rel`` if nothing is there, else ``rel.v<N>`` — never a
        dir a version lists (an unlisted leftover of a crashed attempt
        at the same version is overwritten)."""
        return rel if not os.path.exists(self._abs(rel)) else f"{rel}.v{s['version'] + 1}"

    def _ids(self, kind: str, s: dict | None = None) -> list[int]:
        """Sorted ids of the live commits of ``kind``."""
        return sorted(int(i) for i in self._slot(s or self._current(), kind))

    def _dirs(self, kind: str, as_of_batch: int | None = None) -> list[tuple[int, str]]:
        """(id, dir) of the live commits of ``kind`` at or before
        ``as_of_batch``, in id order."""
        s = self._current()
        last = float("inf") if as_of_batch is None else as_of_batch
        slot = self._slot(s, kind)
        return [(i, self._abs(slot[str(i)])) for i in self._ids(kind, s) if i <= last]

    def _base_dirs(self) -> list[str]:
        return [self._abs(d) for d in self._current()["base"]]

    # -- partition spec (evolvable, Iceberg partition-evolution analog) --

    @property
    def partition_col(self) -> str | None:
        """The CURRENT partition spec — new commits and compactions use
        it; already-written commits keep the spec they were written
        under (recorded in their manifest)."""
        return self._current()["spec"]["current"]

    def evolve_partition_spec(self, new_col: str | None) -> int:
        """Change the partition spec for FUTURE commits without touching
        existing data — Iceberg partition evolution (metadata-only: one
        version). Old commits stay in their old layout; the merge-on-read
        path reads every dir on its own (_read_commit, with the
        schema its manifest records) so mixed layouts coexist;
        the next full compact() rewrites the whole table under the new
        spec. Returns the new spec id."""
        s = self._state()
        spec = s["spec"]
        if new_col == spec["current"]:
            return spec["history"][-1]["spec_id"]
        sid = spec["history"][-1]["spec_id"] + 1
        spec["current"] = new_col
        spec["history"].append({"spec_id": sid, "col": new_col})
        self._publish(s)
        return sid

    @property
    def base_dir(self) -> str:
        """The newest live base dir (the last fold's or append's), or the
        base root while the table has none."""
        base = self._base_dirs()
        return base[-1] if base else f"{self.path}/base"

    @property
    def delta_dir(self) -> str:
        return f"{self.path}/deltas"

    # -- delete files (Iceberg v2 merge-on-read) -----------------------
    #
    # A key tombstone (commit_batch with op=delete) kills a KEY, whatever
    # row carries it. Delete files are Iceberg v2's other two shapes,
    # each a commit under its own root in the batch-id space: a
    # positional delete (delete_where) kills physical base rows by the
    # (file_path, row_index) the parquet reader's hidden `_metadata`
    # columns report, without key semantics (a later upsert of the key
    # resurrects it — Iceberg's row-level contract); an equality delete
    # (delete_equality) kills rows by value up to a sequence cut. The
    # read path applies each as a broadcast anti-join, the per-task
    # delete-index shape Iceberg readers use (reference: docs/design.md's
    # MoR delete handling).

    def delete_equality(
        self, values_df: DataFrame, batch_id: int
    ) -> int:
        """Iceberg v2 EQUALITY delete file: ``values_df``'s columns are
        the equality ids, its rows the values to delete. Strikes every
        data row (base OR delta, any file) matching a value row whose
        op_seq is <= the sequence-number cut: the commits' max op_seq,
        read from their manifests before any delete file applies
        (_max_op_seq), so a replay keeps its cut. Later upserts of the
        same values survive, exactly Iceberg's older-sequence-only
        contract. The third delete shape beside key tombstones
        (commit_batch op=delete) and positional deletes (delete_where):
        committing one scans for no matching row — the file is just the
        value rows — which is why CDC engines emit equality deletes when
        they know values but not positions. Shares the commit id-space
        (time travel to before ``batch_id`` does not see it; rollback
        drops it); a replay replaces its own file (_commit). Spark jobs:
        the distinct write's two, however many delete files are live
        (the columns and the cut come from metadata). Returns the
        delete-row count."""
        raw = self._raw()
        if raw is None:
            return 0
        # Iceberg contract: equality ids must be schema columns — a
        # delete on a column no data row carries could never match and
        # would break the read-path join
        unknown = [c for c in values_df.columns if c not in raw.columns]
        if unknown:
            raise ValueError(
                f"equality-delete columns {unknown} not in table schema "
                f"{sorted(raw.columns)}"
            )
        out = values_df.distinct().withColumn(
            "_seq_cut", F.lit(self._max_op_seq() or 0).cast("long")
        )
        return self._commit(out, "eq_deletes", batch_id, self._write_rows)

    def _apply_eq_deletes(self, df: DataFrame, as_of_batch) -> DataFrame:
        """Anti-join the (base ∪ deltas) rows against every visible
        equality-delete file: a row dies when its equality-id columns
        match a delete row AND its op_seq <= that file's sequence cut.
        Broadcast: delete files hold VALUES, not data."""
        for _, d in self._dirs("eq_deletes", as_of_batch):
            dels = self._read_commit(d)
            eq_cols = [c for c in dels.columns if c != "_seq_cut"]
            if any(c not in df.columns for c in eq_cols):
                # a schema rollback removed an equality-id column: no
                # current row can carry the value — nothing to strike
                continue
            cond = F.col("_d._seq_cut") >= df[OP_SEQ]
            for c in eq_cols:
                cond = cond & (df[c].eqNullSafe(F.col(f"_d.{c}")))
            df = df.join(
                F.broadcast(dels.alias("_d")), cond, "left_anti"
            )
        return df

    def delete_where(self, cond, batch_id: int) -> int:
        """DELETE FROM t WHERE cond, as an Iceberg v2 positional-delete
        commit: scan base, record (file_path, row_index) of matching
        rows into pos_deletes/delete=<batch_id>, touch no data file.
        Shares the commit id-space with delta batches so VERSION AS OF
        an earlier batch does not see the delete and rollback drops it.
        A replay replaces its own file (_commit). Returns the number
        of delete records written. Rows living in un-compacted DELTA
        commits are not covered — run compact() first (Iceberg
        positional deletes likewise only target already-written data
        files; the engine's DELETE falls back to equality deletes for
        hot rows)."""
        base = self._base_dirs()
        if not base:
            return 0
        dels = reduce(
            DataFrame.union,
            [
                self._read_commit(d).filter(cond).select(
                    F.col("_metadata.file_path").alias("file_path"),
                    F.col("_metadata.row_index").alias("row_index"),
                )
                for d in base
            ],
        )
        return self._commit(dels, "pos_deletes", batch_id, self._write_rows)

    def _apply_pos_deletes(self, base: DataFrame, as_of_batch) -> DataFrame:
        """Anti-join a base dir's scan against every visible delete file.
        Broadcast: delete files are the small side by construction
        (they hold two columns of deleted-row positions, not data);
        at 100 TB the per-task build is the same bounded delete-index
        Iceberg readers carry."""
        dirs = self._dirs("pos_deletes", as_of_batch)
        if not dirs:
            return base
        dels = reduce(DataFrame.union, [self._read_commit(d) for _, d in dirs])
        tagged = base.withColumns(
            {
                "_pd_file": F.col("_metadata.file_path"),
                "_pd_pos": F.col("_metadata.row_index"),
            }
        )
        return tagged.join(
            F.broadcast(dels),
            (tagged["_pd_file"] == dels["file_path"])
            & (tagged["_pd_pos"] == dels["row_index"]),
            "left_anti",
        ).drop("_pd_file", "_pd_pos")

    # -- write path ---------------------------------------------------

    def _writer(self, df: DataFrame):
        w = df.write
        if self.partition_col is not None:
            w = w.partitionBy(self.partition_col)
        return w

    def append_base(self, df: DataFrame) -> None:
        """Backfill append (reference A15): rows land in a fresh base dir,
        stamped as op_seq=0 upserts, which the next version lists.

        Guarded against MIXED base layouts: a base written under another
        spec than the current one (its manifest records which) means a
        partition evolution is pending its full rewrite — run compact()
        after evolve_partition_spec() before appending more backfill."""
        s = self._state()
        for d in s["base"]:
            on_disk = self._manifest(self._abs(d)).get("spec")
            if on_disk != self.partition_col:
                raise ValueError(
                    f"append_base under spec {self.partition_col!r} would mix "
                    f"layouts with the existing base (written under "
                    f"{on_disk!r}); run compact() first to rewrite base "
                    "under the current spec"
                )
        d = f"base/v{s['version'] + 1}"  # named for its version: no version lists it yet
        df = df.withColumns({OP_SEQ: F.lit(0).cast("long"), OP_TYPE: F.lit("upsert")})
        self._write_rows(df, self._abs(d), self.partition_col)
        s["base"].append(d)
        self._publish(s)

    def commit_batch(self, batch_df: DataFrame, batch_id: int, publish_if=None) -> int:
        """Apply one CDC micro-batch (upserts + deletes), idempotently;
        returns the number of rows committed.

        batch_df must carry [key, OP_SEQ, OP_TYPE, payload...]; a key
        may appear in several rows, the max OP_SEQ wins on read. It is
        written with its manifest to a fresh dir, then published
        (_commit); a replayed batch_id replaces its own commit in the
        next version — the Spark-native version of the reference's
        commit-ordering protocol (A21): state converges no matter how
        often the batch replays. Spark jobs: the write, plus one per
        shuffle stage in batch_df's lineage (apply_batch's ops have
        none); the manifest statistics ride the write (_write_commit). ``publish_if()``, if given, is
        asked after the write: False discards the dir, publishes nothing
        and returns 0 (a caller deciding on what the write observed).
        """
        return self._commit(batch_df, "deltas", batch_id, publish_if=publish_if)

    def commit_batches(self, batch_df: DataFrame, batch_col: str) -> list[int]:
        """Bulk commit: one micro-batch per distinct integer value of
        ``batch_col``, the same commits and manifests as a
        ``commit_batch`` loop at O(1) Spark jobs instead of O(batches)·2.

        A loop pays one filtered write per batch, each re-scanning the
        source. Here ONE partitioned write lays every batch's dir out
        under a fresh ``deltas/bulk-v<N>/`` (shuffled on the batch key,
        so batches build in parallel tasks, not sequential jobs),
        _write_manifests_bulk adds every manifest, and ONE version
        publishes them all: the batches land together or not at all.
        Spark jobs: one per shuffle stage in batch_df's lineage, the
        batch-key shuffle, the write, and four for the manifests.
        Returns the sorted batch ids committed.

        Only rows with a non-NULL ``batch_col`` are committed (a NULL
        micro-batch id is meaningless). Under a partition spec, where a
        nested ``partitionBy(batch, spec)`` layout would not match the
        loop's, each batch is written on its own, still in one version.
        """
        s = self._state()
        rows = batch_df.filter(F.col(batch_col).isNotNull())
        if self.partition_col is not None:
            ids = sorted(r[0] for r in rows.select(batch_col).distinct().collect())
            for b in ids:
                d = self._fresh(f"deltas/batch={b}", s)
                one = rows.filter(F.col(batch_col) == b).drop(batch_col)
                self._write_commit(one, self._abs(d))
                s["deltas"][str(b)] = d
        else:
            root = f"deltas/bulk-v{s['version'] + 1}"
            rows = rows.withColumnRenamed(batch_col, _BULK_COL)
            w = rows.repartition(_BULK_COL).write.mode("overwrite").partitionBy(_BULK_COL)
            w.parquet(self._abs(root))
            ids = self._write_manifests_bulk(self._abs(root), rows.schema)
            s["deltas"].update({str(b): f"{root}/{_BULK_COL}={b}" for b in ids})
        if ids:
            self._publish(s)
        return ids

    def _write_manifests_bulk(self, root: str, schema) -> list[int]:
        """Manifests for the commits one partitioned write made under
        ``root`` (its rows' ``schema``); returns their sorted ids.

        Field-identical to what ``_write_commit`` records per commit,
        but the statistics come from reading back the written files
        with their declared schema, grouped by their partition column:
        one grouped stats agg and one grouped bloom collect (each a map
        stage and a result job), four jobs in all. The bloom collect is
        bounded by _BLOOM_BITS rows per commit regardless of commit size.
        """
        df = self.spark.read.schema(schema).parquet(root)
        stat_cols = self._stat_cols(df.schema, exclude=(_BULK_COL,))
        stats = {
            r[_BULK_COL]: r
            for r in df.groupBy(_BULK_COL)
            .agg(*[F.expr(e) for e in self._stat_exprs(stat_cols)])
            .collect()
        }
        bitmaps: dict[int, int] = {}
        slices = ", ".join(self._bloom_slices())
        for r in (
            df.selectExpr(_BULK_COL, f"explode(array({slices})) AS pos")
            .filter("pos IS NOT NULL")
            .distinct()
            .collect()
        ):
            b = r[_BULK_COL]
            bitmaps[b] = bitmaps.get(b, 0) | (1 << int(r.pos))
        for b, row in stats.items():
            self._dump_manifest(
                f"{root}/{_BULK_COL}={b}",
                df.drop(_BULK_COL).schema,
                None,  # the bulk write runs without a partition spec
                row,
                self._col_stats(row, stat_cols),
                bitmaps.get(b, 0),
            )
        return sorted(stats)

    # Bloom sizing: 4096 bits / 3 hashes ≈ 1.5% false-positive rate at
    # 500 distinct keys per commit; the bitmap is 512 bytes of manifest
    # JSON. Iceberg stores the same idea as puffin bloom blobs.
    _BLOOM_BITS = 4096
    _BLOOM_SLICES = ((1, 8), (9, 8), (17, 8))  # 1-based md5-hex substrings

    # Column bounds are recorded for JSON-faithful types only: int,
    # float and str round-trip exactly; any other column is omitted and
    # pruning on it degrades to "keep".
    _STAT_TYPES = ("long", "integer", "double", "float", "string", "short", "byte")

    @classmethod
    def _bloom_positions(cls, key_value) -> list[int] | None:
        """Python-side bit positions for a key — MUST mirror the
        Spark-side expression in _bloom_slices (same md5-hex
        substrings of CAST(key AS STRING)).

        Only str and int keys are hashed: their Python rendering equals
        Spark's string cast byte-for-byte. For any other type (bool
        'True' vs 'true', double '10000000.0' vs '1.0E7', decimal,
        bytes) the renderings can diverge and a wrong hash would be a
        bloom FALSE NEGATIVE — a silently skipped commit. Returns None
        for those; callers treat None as 'maybe present', so skipping
        degrades to manifest-bounds-only and the false-negative-free
        contract holds for every key type."""
        import hashlib

        if isinstance(key_value, bool) or not isinstance(key_value, (str, int)):
            return None
        h = hashlib.md5(str(key_value).encode()).hexdigest()
        return [
            int(h[start - 1 : start - 1 + ln], 16) % cls._BLOOM_BITS
            for start, ln in cls._BLOOM_SLICES
        ]

    def _bloom_slices(self) -> list[str]:
        """Spark-side bloom bit positions of the key as SQL text, one
        expression per hash slice; NULL for a NULL key (null keys set
        no bits)."""
        h = f"md5(CAST({sql_ident(self.key)} AS STRING))"
        return [
            f"CAST(conv(substring({h}, {start}, {ln}), 16, 10) AS BIGINT)"
            f" % {self._BLOOM_BITS}"
            for start, ln in self._BLOOM_SLICES
        ]

    def _stat_exprs(self, stat_cols: list[str]) -> list[str]:
        """SQL aggregates of a commit's key bounds (lo/hi), op_seq bounds
        (slo/shi) and column bounds (lo{i}/hi{i} for ``stat_cols[i]``)."""
        cols = [sql_ident(c) for c in (self.key, *stat_cols)]
        names = ["", *range(len(stat_cols))]
        return [f"min({c}) AS lo{n}" for c, n in zip(cols, names)] + [
            f"max({c}) AS hi{n}" for c, n in zip(cols, names)
        ] + [f"min({OP_SEQ}) AS slo", f"max({OP_SEQ}) AS shi"]

    def _stat_cols(self, schema, exclude=()) -> list[str]:
        return [
            f.name
            for f in schema.fields
            if f.name not in (OP_SEQ, OP_TYPE, *exclude)
            and f.dataType.typeName() in self._STAT_TYPES
        ]

    @staticmethod
    def _col_stats(row, stat_cols: list[str]) -> dict:
        """{column: {min, max}} from a stats row whose ``lo{i}``/``hi{i}``
        bound ``stat_cols[i]``; all-NULL columns are omitted."""
        col_stats = {}
        for i, c in enumerate(stat_cols):
            lo_v, hi_v = row[f"lo{i}"], row[f"hi{i}"]
            if isinstance(lo_v, (int, float, str)) and isinstance(
                hi_v, (int, float, str)
            ):
                col_stats[c] = {"min": lo_v, "max": hi_v}
        return col_stats

    def _dump_manifest(
        self, target, schema, spec, row=None, col_stats=None, bitmap=None
    ) -> None:
        """Every manifest records ``schema`` and the ``spec`` the dir was
        written under (partition evolution: later dirs may use another);
        a data commit's (a stats ``row`` given) also its key and op_seq
        bounds, key bloom and column bounds."""
        m = {"spec": spec}
        if row is not None:
            m.update(
                key=self.key,
                min=row["lo"],
                max=row["hi"],
                seq_min=row["slo"],
                seq_max=row["shi"],
                bloom_bits=self._BLOOM_BITS,
                bloom=format(bitmap, "x"),
                columns=col_stats,
            )
        # what a read of the dir returns, less the partition column it
        # infers from the dir names: _read_commit declares it, so no
        # schema-inference job runs
        m["schema"] = _as_read(schema.jsonValue())
        with open(f"{target}/{MANIFEST}", "w") as f:
            json.dump(m, f)

    def _commit(self, df: DataFrame, kind: str, cid: int, write=None, publish_if=None) -> int:
        """Write commit ``cid`` of ``kind`` (a _COMMITS root or
        ``branches/<name>``) with ``write`` (default _write_commit) to a
        fresh dir, then publish the version that maps ``cid`` to it — a
        replay's new dir replaces the old one there; returns the row
        count. A False ``publish_if()`` discards the dir instead."""
        s = self._state()
        prefix = "delete=" if kind.endswith("deletes") else "batch="
        d = self._fresh(f"{kind}/{prefix}{cid}", s)
        n = (write or self._write_commit)(df, self._abs(d))
        if publish_if is not None and not publish_if():
            self._discard(self._abs(d))
            return 0
        self._slot(s, kind)[str(cid)] = d
        self._publish(s)
        return n

    def _write_commit(self, df: DataFrame, target: str) -> int:
        """Write one data dir's rows and its manifest to ``target``, a dir
        no version lists yet (overwriting an earlier attempt); returns the
        row count. Spark jobs: the write, plus one per shuffle stage in
        ``df``'s lineage; no read-back.

        The manifest is the Iceberg-manifest analog: key and op_seq
        min/max, per-column lower/upper bounds, and a key bloom filter
        (puffin-blob analog) so point lookups also skip commits whose
        [min,max] straddles a key they do not hold. Stats are advisory:
        a missing manifest or bloom only disables skipping.

        Every statistic is an aggregate of one Observation on the
        written DataFrame; the bloom is one ``collect_set`` per hash
        slice, each bounded at _BLOOM_BITS values. This is as safe as
        reading the files back: an Observation never recomputes the
        lineage, it sees exactly the rows handed to the writer in the
        same execution, so a non-deterministic batch cannot yield
        bounds that disagree with disk. A retried task can only add
        rows to the observed set, so bounds can only widen and the
        bloom only gain bits; pruning stays free of false negatives.

        The read path re-infers a partition column's type from its
        directory names ("2024-01-01" reads back as a date, "7" as an
        int), so that column keeps its bounds only when the inferred
        type holds the same JSON values as the written one.
        """
        spec = self.partition_col
        schema = df.drop(spec).schema if spec else df.schema
        stat_cols = self._stat_cols(df.schema)
        obs = Observation()
        observed = df.observe(
            obs,
            F.expr("count(1) AS n"),
            *[F.expr(e) for e in self._stat_exprs(stat_cols)],
            *[
                F.expr(f"collect_set({pos}) AS bloom{j}")
                for j, pos in enumerate(self._bloom_slices())
            ],
        )
        self._writer(observed).mode("overwrite").parquet(target)
        row = obs.get
        bitmap = 0
        for j in range(len(self._BLOOM_SLICES)):
            for pos in row[f"bloom{j}"]:
                bitmap |= 1 << int(pos)
        col_stats = self._col_stats(row, stat_cols)
        if spec in col_stats:
            # a schema-only read lists the dirs to infer the partition
            # column's type, without the footer-reading job
            read = self.spark.read.schema(schema).parquet(target)
            types = {x.schema[spec].dataType.typeName() for x in (df, read)}
            if len(types) > 1 and not types <= {"byte", "short", "integer", "long"}:
                del col_stats[spec]
        self._dump_manifest(target, schema, spec, row, col_stats, bitmap)
        return row["n"]

    def _write_rows(
        self, df: DataFrame, target: str, spec=None, max_records_per_file=None
    ) -> int:
        """_write_commit for a dir no read prunes — a delete file (no key
        column) or a base dir (partitioned by ``spec``): its manifest
        records schema and spec alone, so the write observes only its
        row count."""
        obs = Observation()
        w = df.observe(obs, F.expr("count(1) AS n")).write.mode("overwrite")
        if spec is not None:
            w = w.partitionBy(spec)
        if max_records_per_file is not None:
            w = w.option("maxRecordsPerFile", max_records_per_file)
        w.parquet(target)
        self._dump_manifest(target, df.drop(spec).schema if spec else df.schema, spec)
        return obs.get["n"]

    def _manifest(self, path: str) -> dict:
        """The manifest of the dir ``path``; {} when it is missing or
        unreadable. Stats are advisory: every use of a missing field
        degrades to "keep" (no skipping)."""
        try:
            with open(f"{path}/{MANIFEST}") as f:
                m = json.load(f)
        except (OSError, ValueError):
            return {}
        return m if isinstance(m, dict) else {}

    def _read_commit(self, path: str) -> DataFrame:
        """The dir ``path`` read with the schema its manifest records: no
        schema-inference job (without one the read infers it, one job),
        less the partitions a partial compaction folded out of it."""
        schema = self._manifest(path).get("schema")
        reader = self.spark.read
        if schema is not None:
            reader = reader.schema(StructType.fromJson(schema))
        df = reader.parquet(path)
        masks = self._current()["drop"].get(os.path.relpath(path, self.path), {})
        for col, vals in masks.items():
            df = df.filter(~F.coalesce(F.col(col).cast("string").isin(vals), F.lit(False)))
        return df

    def _max_op_seq(self, exclude: int | None = None) -> int | None:
        """Max op_seq over main's live commits other than batch
        ``exclude``, from their manifests, before any delete file applies
        (a delete must not lower its own replay's cut); None when no
        commit holds one. A dir whose manifest lacks the bound is read,
        one job for all of them. Base rows carry op_seq 0."""
        seqs, reads = [], []
        for b, d in self._dirs("deltas"):
            if b == exclude:
                continue
            m = self._manifest(d)
            if "seq_max" in m:
                seqs.append(m["seq_max"])
            else:
                # the select drops the partition columns a read infers
                # from dir names, so flat and partitioned commits union
                reads.append(self._read_commit(d).select(OP_SEQ))
        if reads:
            seqs.append(reduce(DataFrame.union, reads).agg(F.max(OP_SEQ)).head()[0])
        return max((x for x in seqs if x is not None), default=None)

    def _bloom_may_contain(self, manifest: dict, key_value) -> bool:
        """False-negative-free membership: False ⇒ the commit definitely
        lacks the key; True on any doubt (missing/foreign manifest)."""
        if manifest.get("bloom_bits") != self._BLOOM_BITS:
            return True
        try:
            bitmap = int(manifest["bloom"], 16)
        except (KeyError, TypeError, ValueError):
            return True
        positions = self._bloom_positions(key_value)
        if positions is None:  # unhashable key type: never skip on bloom
            return True
        return all(bitmap >> p & 1 for p in positions)

    @staticmethod
    def _bounds_disjoint(stat: dict, lo, hi) -> bool:
        """True ⇒ the commit's [min,max] for a column CANNOT intersect
        [lo, hi] — safe to skip. Any doubt (type mismatch, missing
        stat) returns False (keep). Mirrors Iceberg's
        InclusiveMetricsEvaluator contract: skipping must never be
        lossy."""
        try:
            if lo is not None and stat["max"] < lo:
                return True
            if hi is not None and stat["min"] > hi:
                return True
        except (TypeError, KeyError):
            return False
        return False

    def scan_append(self, where_bounds: dict | None = None) -> DataFrame | None:
        """Append-log scan with COLUMN-stats data skipping:
        ``where_bounds`` maps column -> (lo, hi) (either side None);
        commits whose manifest column bounds cannot intersect are never
        opened, and the exact range predicate is applied to the
        survivors, so results are exact. This is Iceberg's per-column
        lower/upper-bound scan planning at commit granularity.

        APPEND-ONLY reads by design: no LWW fold. Pruning non-key
        columns BEFORE a merge would be unsound (a skipped commit could
        hold a NEWER version of a key whose older version matches), so
        the LWW path prunes only on the key; this path serves the
        event-log workloads where every row is an insert — there the
        column-stats skip is exactly as sound as Iceberg's.

        Scale: planning is O(commits) manifest reads (driver-side JSON,
        no data I/O); the residual filter pushes to the surviving
        scans.

        Raises if the table carries positional or equality delete files:
        this path applies no delete folding, so reading past them would
        silently resurrect deleted rows — use scan()/scan_latest()."""
        if self._ids("pos_deletes") or self._ids("eq_deletes"):
            raise ValueError(
                "scan_append() on a table with row-level delete files "
                f"({self.path}): the append-log path applies no pos/eq "
                "delete folding and would resurrect deleted rows — use "
                "scan() (MoR fold) instead"
            )
        df = self._raw(col_bounds=where_bounds)
        return None if df is None else df.drop(OP_SEQ, OP_TYPE)

    def _check_not_expired(self, as_of_batch: int | None) -> None:
        folded = self._current()["folded"]  # the highest batch a fold absorbed
        if as_of_batch is not None and folded is not None and as_of_batch < folded:
            raise SnapshotExpiredError(
                f"VERSION AS OF batch {as_of_batch} expired: compact() folded "
                f"batches <= {folded} into base (Iceberg ExpireSnapshots analog)"
            )

    def prune_batches(
        self,
        lo=None,
        hi=None,
        as_of_batch: int | None = None,
        root: str | None = None,
        col_bounds: dict | None = None,
    ) -> list[str]:
        """Scan planning: the live delta commit dirs that can contain
        keys in [lo, hi] (either bound may be None) at or before
        as_of_batch, from the current version and the commits'
        manifests — nothing is listed. Dirs without a manifest are
        conservatively kept; empty commits are dropped. ``root``
        defaults to main's delta dir; branch reads pass the branch's
        commit root. ``col_bounds`` ({column: (lo, hi)}) additionally
        skips commits whose manifest COLUMN stats cannot intersect — the
        Iceberg lower/upper-bounds evaluator; callers must only use it
        for append-only reads (see scan_append)."""
        kind = "deltas" if root is None else os.path.relpath(root, self.path)
        out = []
        for _, path in self._dirs(kind, as_of_batch):
            m = self._manifest(path)
            if "min" in m and "max" in m:
                b_lo, b_hi = m["min"], m["max"]
                if b_lo is None:  # empty commit
                    continue
                if lo is not None and b_hi < lo:
                    continue
                if hi is not None and b_lo > hi:
                    continue
            if col_bounds:
                stats = m.get("columns") or {}
                if any(
                    c in stats and self._bounds_disjoint(stats[c], c_lo, c_hi)
                    for c, (c_lo, c_hi) in col_bounds.items()
                ):
                    continue
            # point lookup (lo == hi): the bloom can skip commits whose
            # [min,max] straddles the key without containing it
            if lo is not None and lo == hi and not self._bloom_may_contain(m, lo):
                continue
            out.append(path)
        return out

    def lookup(self, key_value) -> DataFrame | None:
        """Point lookup: current row for one key, or None. Scan planning
        prunes commits by manifest bounds AND bloom membership, so on a
        wide table this opens O(commits-containing-key) directories,
        not O(commits)."""
        return self.snapshot(lo=key_value, hi=key_value)

    # -- read path ----------------------------------------------------

    def _raw(
        self,
        lo=None,
        hi=None,
        as_of_batch: int | None = None,
        branch: str | None = None,
        col_bounds: dict | None = None,
    ) -> DataFrame | None:
        """Base ∪ live commits with key in [lo, hi], before the LWW fold.
        Every dir the current version lists — base, commit and delete
        file — is read with its manifest's schema, so building this runs
        no Spark job, however many are live. ``col_bounds`` ({column:
        (lo, hi)}) also prunes commits on column stats and filters rows:
        only sound without the fold (scan_append)."""
        self._check_not_expired(as_of_batch)
        # positional deletes strike physical base rows before any
        # logical (LWW) merge — the Iceberg v2 read contract
        parts = [
            self._apply_pos_deletes(self._read_commit(d), as_of_batch)
            for d in self._base_dirs()
        ]
        if branch is not None:
            # branch view = main AS OF the fork + the branch's commits;
            # as_of_batch (if given) bounds the BRANCH-side commit ids
            main_as_of = self._branch_ref(branch)["fork_batch"]
            dirs = [] if main_as_of is None else self.prune_batches(lo, hi, main_as_of)
            dirs += self.prune_batches(
                lo, hi, as_of_batch, root=f"{self.branches_dir}/{branch}"
            )
        else:
            dirs = self.prune_batches(lo, hi, as_of_batch, col_bounds=col_bounds)
        # one read per dir, with its manifest's schema: a combined
        # multi-root read would unify `batch=N` roots with the partition
        # dirs beneath them (CONFLICTING_DIRECTORY_STRUCTURES), and under
        # partition EVOLUTION per-dir reads let mixed layouts coexist
        parts += [self._read_commit(d) for d in dirs]
        if not parts:
            return None
        df = reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), parts)
        # manifests prune whole commits; the residual filter makes the
        # row-level predicate exact (pushes to every scan)
        for c, (c_lo, c_hi) in {self.key: (lo, hi), **(col_bounds or {})}.items():
            if c_lo is not None:
                df = df.filter(F.col(c) >= c_lo)
            if c_hi is not None:
                df = df.filter(F.col(c) <= c_hi)
        # equality deletes strike rows in ANY file (base or delta) with
        # op_seq at or below the delete's sequence cut — applied after
        # the union, before the LWW fold (the Iceberg v2 read order)
        return self._apply_eq_deletes(df, as_of_batch)

    def snapshot(
        self,
        lo=None,
        hi=None,
        as_of_batch: int | None = None,
        branch: str | None = None,
    ) -> DataFrame | None:
        """LWW state: max op_seq per key wins; tombstones drop.

        Uses max_by(struct(all), op_seq) — a hash aggregation with
        map-side partials (no sort, no window) — the shape that holds
        at 100 TB.

        ``lo``/``hi`` bound the KEY (manifest stats skip whole commit
        dirs before any file is opened — the Iceberg data-skipping
        contract). ``as_of_batch`` reads the table VERSION AS OF that
        commit (Iceberg time travel); only valid back to the last
        compact(), which folds deltas into base like ExpireSnapshots.
        """
        latest = self._latest(lo, hi, as_of_batch, branch)
        if latest is None:
            return None
        return latest.filter(F.col(OP_TYPE) != TOMBSTONE).drop(OP_TYPE, OP_SEQ)

    def _latest(
        self,
        lo=None,
        hi=None,
        as_of_batch: int | None = None,
        branch: str | None = None,
    ) -> DataFrame | None:
        """Per-key winning row INCLUDING op metadata (op type + seq)."""
        raw = self._raw(lo, hi, as_of_batch, branch)
        if raw is None:
            return None
        payload = [c for c in raw.columns if c not in (OP_SEQ, OP_TYPE)]
        row = F.struct(*[F.col(c) for c in payload], F.col(OP_TYPE), F.col(OP_SEQ))
        return (
            raw.groupBy(self.key)
            .agg(F.max_by(row, F.col(OP_SEQ)).alias("_row"))
            .select(
                *[F.col(f"_row.{c}").alias(c) for c in payload],
                F.col(f"_row.{OP_TYPE}"),
                F.col(f"_row.{OP_SEQ}"),
            )
        )

    def changes(
        self, from_batch: int, to_batch: int | None = None
    ) -> DataFrame | None:
        """Change data feed between two versions (Iceberg CDF /
        incremental-read analog): insert/update/delete rows with the
        post-image payload, diffing VERSION AS OF ``from_batch``
        against ``to_batch`` (None = current). One full-outer join on
        the key; unchanged keys (same winning op_seq) drop out."""
        new = self._latest(as_of_batch=to_batch)
        if new is None:
            return None
        old = self._latest(as_of_batch=from_batch)
        live = F.col(OP_TYPE) != TOMBSTONE
        payload = [c for c in new.columns if c not in (OP_SEQ, OP_TYPE, self.key)]
        if old is None:
            return new.filter(live).select(
                self.key,
                F.lit("insert").alias("change_type"),
                *payload,
            )
        o = old.filter(live).select(self.key, OP_SEQ).alias("o")
        n = new.filter(live).alias("n")
        j = n.join(o, F.col(f"n.{self.key}") == F.col(f"o.{self.key}"), "full")
        return j.filter(
            F.col(f"o.{self.key}").isNull()
            | F.col(f"n.{self.key}").isNull()
            | (F.col(f"o.{OP_SEQ}") != F.col(f"n.{OP_SEQ}"))
        ).select(
            F.coalesce(F.col(f"n.{self.key}"), F.col(f"o.{self.key}")).alias(self.key),
            F.when(F.col(f"o.{self.key}").isNull(), "insert")
            .when(F.col(f"n.{self.key}").isNull(), "delete")
            .otherwise("update")
            .alias("change_type"),
            *[F.col(f"n.{c}").alias(c) for c in payload],
        )

    # -- MERGE INTO facade --------------------------------------------

    def merge_into(
        self,
        source: DataFrame,
        batch_id: int,
        when_matched_update=True,
        when_matched_delete=None,
        when_not_matched_insert=True,
        stage_only: bool = False,
    ) -> None:
        """Iceberg/ANSI ``MERGE INTO`` as a DataFrame facade: match
        ``source`` rows against the table's CURRENT state on the key
        and commit one batch of upserts/tombstones.

        Clause semantics mirror Spark SQL MERGE (evaluated in order):

        - ``when_matched_delete``: Column predicate (or None) — matched
          rows satisfying it become tombstones.
        - ``when_matched_update``: True, or a Column predicate —
          remaining matched rows satisfying it are upserted with the
          source payload.
        - ``when_not_matched_insert``: True, or a Column predicate —
          unmatched rows satisfying it are inserted.

        Predicates may reference source columns directly and target
        columns via the ``_target`` struct (null for unmatched rows),
        e.g. ``F.col("v") > F.col("_target.v")``.

        Source keys must be unique (one row per key per MERGE, the same
        precondition SQL MERGE enforces with its cardinality check —
        use WAP + an audit check to enforce it on untrusted sources).
        ``stage_only=True`` stages the batch for write-audit-publish
        instead of committing directly.

        Scale: ONE key-equi left join of source against the merged
        snapshot (both sides shuffle on the key; AQE broadcasts a
        small source), plus the commits' max op_seq (_max_op_seq) for
        the op_seq base — no per-row driver work. With Iceberg jars this maps
        1:1 onto ``MERGE INTO t USING s ON ... WHEN ...``.
        """
        latest = self._latest()
        live = (
            latest.filter(F.col(OP_TYPE) != TOMBSTONE).drop(OP_TYPE, OP_SEQ)
            if latest is not None
            else None
        )
        src_cols = [c for c in source.columns if c not in (OP_SEQ, OP_TYPE)]
        if live is not None:
            tgt = live.select(
                F.col(self.key).alias("_tkey"),
                F.struct(*[F.col(c) for c in live.columns]).alias("_target"),
            )
            j = source.join(tgt, source[self.key] == tgt["_tkey"], "left")
            matched = F.col("_tkey").isNotNull()
        else:
            j = source.select("*", F.lit(None).alias("_tkey"), F.lit(None).alias("_target"))
            matched = F.lit(False)
        # above every committed op_seq, struck rows' too, so no equality
        # delete's cut reaches a re-inserted row
        seq0 = (self._max_op_seq() or 0) + 1

        def _cond(c):
            if c is None:
                return F.lit(False)
            if isinstance(c, bool):
                return F.lit(c)
            # SQL MERGE treats a NULL clause predicate as "not satisfied":
            # without the coalesce, a NULL delete predicate (e.g. a null
            # source value in v < 0) would propagate through ~delete_c and
            # silently drop the row from every later clause.
            return F.coalesce(c, F.lit(False))

        delete_c = matched & _cond(when_matched_delete)
        update_c = matched & ~delete_c & _cond(when_matched_update)
        insert_c = ~matched & _cond(when_not_matched_insert)
        op = (
            F.when(delete_c, F.lit(TOMBSTONE))
            .when(update_c | insert_c, F.lit("upsert"))
            .otherwise(F.lit(None))
        )
        batch = (
            j.withColumn(OP_TYPE, op)
            .filter(F.col(OP_TYPE).isNotNull())
            .select(*src_cols, OP_TYPE)
            .withColumn(OP_SEQ, F.lit(seq0).cast("long"))
        )
        if stage_only:
            self.stage_batch(batch, batch_id)
        else:
            self.commit_batch(batch, batch_id)

    # -- maintenance --------------------------------------------------

    def rollback_to_batch(self, batch_id: int) -> list[int]:
        """Iceberg rollback_to_snapshot analog: make VERSION AS OF
        ``batch_id`` the CURRENT state with one version that drops every
        later commit, delete files included (they share the id-space),
        and then discard any staged batches. Metadata-only — nothing is
        rewritten; the dropped commits' dirs go with expire_snapshots().
        Refuses to roll back past the last compaction (those versions
        are expired — same contract as snapshot(as_of_batch=...)).
        Returns the dropped batch ids."""
        self._check_not_expired(batch_id)
        s = self._state()
        dropped = []
        for kind in _COMMITS:
            for i in self._ids(kind, s):
                if i > batch_id:
                    del s[kind][str(i)]
                    dropped.append(i)
        if dropped:
            self._publish(s)
        self._discard(self.staging_dir)
        return dropped

    # -- branch refs (Iceberg branching / multi-commit WAP analog) ----
    #
    # A branch is a named ref forked from a main version: its commits
    # land under branches/<name>/batch=N and only the ref lists them
    # (invisible to main readers), its view is "main AS OF the fork +
    # the branch's own commits", and fast_forward() publishes them all
    # with ONE version that lists the same dirs under main — metadata
    # only, no data rewrite, exactly Iceberg's fast-forward of main to a
    # validated audit branch. The single-commit WAP path
    # (stage/audit/publish) is the degenerate form. Reference: the
    # staged-commit plan item (docs/design.md WAP notes); Iceberg ref
    # semantics per the public spec (refs map in table metadata).

    @property
    def branches_dir(self) -> str:
        return f"{self.path}/branches"

    def _main_head(self) -> int | None:
        return (self._ids("deltas") or [None])[-1]

    def create_branch(self, name: str, at_batch: int | None = None) -> int | None:
        """Fork a branch at ``at_batch`` (default: current main head).
        Metadata-only. Returns the fork batch id (None = empty table)."""
        s = self._state()
        if name in s["branches"] or name in s["tags"]:
            raise ValueError(f"ref {name!r} already exists")
        fork = at_batch if at_batch is not None else self._main_head()
        if fork is not None:
            self._check_not_expired(fork)
        s["branches"][name] = {"fork_batch": fork, "batches": {}}
        self._publish(s)
        return fork

    def _branch_ref(self, name: str) -> dict:
        branches = self._current()["branches"]
        if name not in branches:
            raise ValueError(f"no such branch {name!r}")
        return branches[name]

    def commit_to_branch(
        self, batch_df: DataFrame, batch_id: int, name: str, publish_if=None
    ) -> int:
        """commit_batch onto a branch: the same write → manifest →
        version commit, the same Spark jobs and the same ``publish_if``
        hook, but only the ref lists the commit."""
        fork = self._branch_ref(name)["fork_batch"]
        ids = self._ids(f"branches/{name}")
        head = ids[-1] if ids else fork
        if head is not None and batch_id <= head and batch_id not in ids:
            raise ValueError(
                f"branch {name!r} head is {head}; new batch id must advance"
            )
        return self._commit(batch_df, f"branches/{name}", batch_id, publish_if=publish_if)

    def fast_forward(self, name: str) -> list[int]:
        """Publish a branch: ONE version lists its commit dirs, manifests
        included, under main's commits and drops the ref, so main gains
        the whole branch or none of it. Requires main to still be AT the
        fork point (a true fast-forward — Iceberg's fastForwardBranch
        contract); anything else would silently interleave diverged
        histories. Returns the published batch ids."""
        ref = self._branch_ref(name)
        if self._main_head() != ref["fork_batch"]:
            raise ValueError(
                f"cannot fast-forward {name!r}: main advanced past fork "
                f"batch {ref['fork_batch']} (now at {self._main_head()}); "
                "recreate the branch from the new head"
            )
        s = self._state()
        for b, d in s["branches"].pop(name)["batches"].items():
            if b in s["deltas"]:
                raise ValueError(f"batch {b} already exists on main")
            s["deltas"][b] = d
        self._publish(s)
        return sorted(int(b) for b in ref["batches"])

    def drop_branch(self, name: str) -> None:
        """Delete a branch's ref; its unpublished commit dirs go with
        expire_snapshots()."""
        s = self._state()
        if s["branches"].pop(name, None) is not None:
            self._publish(s)

    def create_tag(self, name: str, at_batch: int | None = None) -> int:
        """Pin a named immutable ref to a version (Iceberg tag):
        ``snapshot(as_of_batch=resolve_tag(name))`` reads it forever —
        or until compaction expires the version, which resolve_tag
        surfaces as SnapshotExpiredError, same contract as any
        time-travel read. Tags and branches share the ref namespace."""
        s = self._state()
        if name in s["tags"] or name in s["branches"]:
            raise ValueError(f"ref {name!r} already exists")
        at = at_batch if at_batch is not None else self._main_head()
        if at is None:
            raise ValueError("cannot tag an empty table")
        self._check_not_expired(at)
        s["tags"][name] = at
        self._publish(s)
        return at

    def resolve_tag(self, name: str) -> int:
        tags = self._current()["tags"]
        if name not in tags:
            raise ValueError(f"no such tag {name!r}")
        self._check_not_expired(tags[name])
        return tags[name]

    def drop_tag(self, name: str) -> None:
        s = self._state()
        if s["tags"].pop(name, None) is not None:
            self._publish(s)

    def refs(self) -> DataFrame:
        """Metadata table of named refs (Iceberg `refs` analog): main,
        every branch (fork point, head, commit count), every tag."""
        s = self._current()
        rows = [("main", "branch", None, self._main_head(), len(s["deltas"]))]
        for name, ref in sorted(s["branches"].items()):
            ids = self._ids(f"branches/{name}", s)
            head = ids[-1] if ids else ref["fork_batch"]
            rows.append((name, "branch", ref["fork_batch"], head, len(ids)))
        for name, at in sorted(s["tags"].items()):
            rows.append((name, "tag", None, at, 0))
        return self.spark.createDataFrame(
            rows,
            "ref string, kind string, fork_batch long, head_batch long, "
            "n_commits long",
        )

    def should_compact(
        self, max_delta_batches: int = 16, max_delta_files: int = 64
    ) -> bool:
        """Compaction trigger (reference A24's scheduling half,
        docs/design.md:394-400): the merge-on-read read path unions
        base + every delta commit, so read amplification grows with
        the delta count. Fire when either the live commit count or their
        small-file count crosses its threshold — metadata and listings
        of the live files (_live_files, no data read), cheap enough for every batch
        loop. The thresholds mirror Iceberg's rewrite_data_files
        defaults in spirit: bound reader fan-in, don't chase
        perfection."""
        s = self._current()
        if len(s["deltas"]) >= max_delta_batches:
            return True
        return sum(len(self._live_files(s, d)) for d in s["deltas"].values()) >= max_delta_files

    def compact(
        self,
        where=None,
        max_records_per_file: int | None = None,
        zorder_by: tuple[str, str] | None = None,
    ) -> None:
        """Rewrite base from the merged snapshot; fold deltas (reference
        A24 RewriteDataFiles, docs/design.md:394-400). Spark jobs: the
        merged view's shuffle stage and the write, as every dir is read
        with its manifest's schema; plus one broadcast per live delete
        file (the positional ones as one).

        ``max_records_per_file`` bounds output file size (Iceberg's
        target-file-size, by record count) with Spark's maxRecordsPerFile
        write option: the writer rolls files, no extra job.

        ``zorder_by=(colA, colB)`` clusters the rewritten base on the
        Morton interleaving of the two columns (Iceberg's z-ordered
        RewriteDataFiles / Delta Z-ORDER): a range repartition on the
        z-code spreads the rewrite across MANY tasks (ranges nest, so
        per-file z-ranges stay disjoint — the q_sink_sorted_files
        lesson; one-task-per-file layouts don't survive 100 TB), and a
        within-partition sort clusters rows so each file covers a small
        rectangle of the 2-D key space — min/max footer stats then
        prune scans filtered on EITHER column. Columns must be
        non-negative integers (morton_code contract). With a table
        partition spec, the sort is prefixed by the partition column so
        the writer's own partition sort cannot destroy the clustering.

        ``where=None`` rewrites the whole table. With a predicate over
        ``partition_col`` (a Column, e.g. ``F.col("day") < "2024-01"``),
        only the matching COLD partitions are rewritten — hot
        partitions' base and delta files are left physically untouched,
        the shape docs/design.md:396-400 specifies for a hot 100 TB
        table where full rewrites are unaffordable. Batch manifests keep
        their original key bounds — possibly wider than the remaining
        files, so skipping stays safe. It needs every live commit under
        the current spec and no live equality-delete file; run a full
        compact() first otherwise.

        Both forms go through _fold, which writes one version: the new
        base listed, what it absorbed no longer read, the superseded
        base ARCHIVED (Iceberg keeps old snapshots' files until
        ExpireSnapshots; expire_snapshots() is that step here) and the
        last-folded-batch mark advanced, so VERSION AS OF an earlier
        batch raises SnapshotExpiredError (conservative for partial
        compaction: hot-partition history still exists but
        cold-partition history does not, and a half-historical snapshot
        would be silently wrong). A full compact() without options that
        would only rewrite the base as it is (_folded) returns at once:
        no version, no Spark job.
        """
        if where is None:
            if zorder_by is None and max_records_per_file is None and self._folded():
                return
            rows, parts = self.snapshot(), None
            if rows is None:
                return
            if zorder_by is not None:
                from ..functions.zorder import morton_code

                z = morton_code(F.col(zorder_by[0]), F.col(zorder_by[1]))
                keys = ([F.col(self.partition_col)] if self.partition_col else []) + [z]
                rows = rows.repartitionByRange(*keys).sortWithinPartitions(*keys)
        else:
            if zorder_by is not None:
                raise ValueError(
                    "zorder_by requires a full rewrite (where=None): a "
                    "partial rewrite would interleave clustered and "
                    "unclustered files in one layout"
                )
            pc = self.partition_col
            if pc is None:
                raise ValueError("compact(where=...) requires partition_col")
            # a partition-targeted rewrite masks partitions by name, which
            # is only sound when every live commit shares the current spec;
            # after an evolution, run a full compact() first (Iceberg's
            # guidance for spec changes is the same: old files keep the old
            # layout until rewritten)
            for b, d in self._dirs("deltas"):
                spec = self._manifest(d).get("spec")
                if spec != pc:
                    raise ValueError(
                        f"compact(where=...) needs all commits under spec "
                        f"{pc!r}, but batch {b} was written "
                        f"under {spec!r}; run full compact() first"
                    )
            raw = self._raw()
            if raw is None:
                return
            cold_vals = [
                r[0] for r in raw.select(pc).distinct().filter(where).collect()
            ]
            if not cold_vals:
                return
            rows = self.snapshot().filter(F.col(pc).isin(cold_vals))
            # partitionBy renders simple values (int/str/date) as
            # str(value); exotic values needing Spark's %-escaping aren't
            # used as partition keys here
            parts = (pc, [str(v) for v in cold_vals])
        self._fold(rows, parts, max_records_per_file)

    def _folded(self) -> bool:
        """True when no commit or delete file is live and the base is one
        unmasked dir written under the current spec: what a full fold
        leaves, so folding again would change nothing."""
        s = self._current()
        if any(s[k] for k in _COMMITS) or len(s["base"]) != 1 or s["base"][0] in s["drop"]:
            return False
        m = self._manifest(self._abs(s["base"][0]))
        return "spec" in m and m["spec"] == s["spec"]["current"]

    def _fold(
        self,
        rows: DataFrame | None,
        parts: tuple[str, list[str]] | None = None,
        max_records_per_file: int | None = None,
    ) -> None:
        """Replace the base — or, with ``parts`` = (column, values), only
        those partitions of it — with ``rows`` (None: no rows); the only
        code that folds commits into base. ``rows`` go to a fresh base
        dir, then ONE version lists it: a whole fold drops every commit
        and delete file from the version and archives the old base dirs
        and delete files as generation N; a partial fold masks
        ``parts`` out of every live base dir and commit instead, and
        drops from the version a dir with no file left unmasked. The
        fold mark advances past every commit the fold covered, deletes
        too. Nothing is renamed or deleted, so a crash anywhere leaves
        the previous version whole. A partial fold refuses while
        equality deletes are live: its rows restart at op_seq 0, under
        their sequence cut."""
        s = self._state()
        if parts is not None and s["eq_deletes"]:
            raise ValueError(
                "compact(where=...) while equality-delete files are live "
                "would let them strike the rewritten rows; run full "
                "compact() first"
            )
        last = max((int(i) for k in _COMMITS for i in s[k]), default=None)
        new = []
        if rows is not None:
            new.append(f"base/v{s['version'] + 1}")
            rows = rows.withColumns({OP_SEQ: F.lit(0).cast("long"), OP_TYPE: F.lit("upsert")})
            self._write_rows(rows, self._abs(new[0]), self.partition_col, max_records_per_file)
        archived = []
        if parts is None:
            archived = s["base"] + [d for k in _COMMITS[1:] for d in s[k].values()]
            s.update(base=new, deltas={}, pos_deletes={}, eq_deletes={})
        else:
            col, vals = parts
            for d in s["base"] + list(s["deltas"].values()):
                s["drop"].setdefault(d, {}).setdefault(col, []).extend(vals)
            gone = {d for d in s["drop"] if not self._live_files(s, d)}
            s["base"] = [d for d in s["base"] if d not in gone] + new
            s["deltas"] = {i: d for i, d in s["deltas"].items() if d not in gone}
        s["archive"].append({"gen": s["gen"], "dirs": archived})
        s["gen"] += 1
        if last is not None and (s["folded"] is None or last > s["folded"]):
            s["folded"] = last
        self._publish(s)

    # -- write-audit-publish (staged commits) -------------------------
    # Iceberg's WAP pattern (spark.wap.id / branch commits): a batch is
    # written to an isolated staging location, validated there, and only
    # then made visible by an ATOMIC metadata operation — readers never
    # see unaudited rows, and an audit failure costs nothing but the
    # staged files. The analog here: staging/batch=N is no table state
    # (no version lists it); publish_batch links its files into a fresh
    # commit dir and publishes the version that lists it, mirroring
    # Iceberg's snapshot pointer swap. Reference hook: the design's
    # at-least-once commit protocol (docs/design.md:339-348) — WAP adds
    # the audit gate in front of it.

    @property
    def staging_dir(self) -> str:
        return f"{self.path}/staging"

    def stage_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        """Write a batch to staging — invisible to snapshot()/changes().
        Re-staging the same id replaces it (idempotent, like
        commit_batch)."""
        self._write_commit(batch_df, f"{self.staging_dir}/batch={batch_id}")

    def audit_batch(self, batch_id: int, checks=None, expect_min_rows: int = 1):
        """Validate a staged batch; returns a list of violation strings
        (empty = clean). Built-in expectations: the key column is
        never null, OP_SEQ/OP_TYPE are present and valid, and at least
        ``expect_min_rows`` rows were staged. ``checks`` is an optional
        list of callables DataFrame -> str | None for table-specific
        rules (e.g. value ranges, referential spot checks); each runs
        against the STAGED FILES (read back from disk), so the audit
        sees exactly what publish would expose, not the batch lineage.
        """
        target = f"{self.staging_dir}/batch={batch_id}"
        if not self._manifest(target):
            return [f"batch {batch_id}: nothing staged"]
        return self._audit_df(self._read_commit(target), expect_min_rows, checks)

    def _audit_df(self, df, expect_min_rows: int, checks) -> list:
        """The audit core shared by staged-batch and branch audits:
        built-in expectations (key never null, OP_SEQ/OP_TYPE present
        and valid, minimum row count) + caller ``checks`` callables."""
        problems: list[str] = []
        cols = set(df.columns)
        for required in (self.key, OP_SEQ, OP_TYPE):
            if required not in cols:
                problems.append(f"missing required column {required!r}")
        if problems:
            return problems
        agg = df.agg(
            F.count("*").alias("n"),
            F.sum(F.col(self.key).isNull().cast("long")).alias("null_keys"),
            F.sum(
                (~F.col(OP_TYPE).isin("upsert", TOMBSTONE)).cast("long")
            ).alias("bad_ops"),
        ).head()
        if agg.n < expect_min_rows:
            problems.append(f"staged rows {agg.n} < expected minimum {expect_min_rows}")
        if agg.null_keys:
            problems.append(f"{agg.null_keys} rows with null {self.key}")
        if agg.bad_ops:
            problems.append(f"{agg.bad_ops} rows with invalid {OP_TYPE}")
        for check in checks or ():
            msg = check(df)
            if msg:
                problems.append(msg)
        return problems

    def audit_branch(self, name: str, checks=None, expect_min_rows: int = 1):
        """Validate EVERY commit on a branch before publishing it —
        the multi-commit generalization of audit_batch. Built-in
        expectations run per commit dir (exactly what fast_forward
        would expose); ``checks`` callables additionally run once
        against the whole branch VIEW (main-as-of-fork + branch), so
        cross-commit rules (referential counts, aggregate drift) see
        the state readers would. Returns violation strings, empty =
        clean."""
        self._branch_ref(name)
        dirs = self._dirs(f"branches/{name}")
        problems: list[str] = []
        if not dirs:
            return [f"branch {name!r}: no commits to publish"]
        for b, target in dirs:
            problems += [
                f"branch commit {b}: {p}"
                for p in self._audit_df(
                    self._read_commit(target), expect_min_rows, None
                )
            ]
        if not problems:
            view = self.snapshot(branch=name)
            for check in checks or ():
                msg = check(view)
                if msg:
                    problems.append(msg)
        return problems

    def publish_branch(self, name: str, checks=None) -> dict:
        """Audit-then-fast-forward: the branch flavor of WAP. A clean
        audit fast-forwards main to the branch (one version) and
        returns the published batch ids; any violation leaves the
        branch INTACT for inspection (drop_branch to discard) and
        nothing reaches main."""
        problems = self.audit_branch(name, checks=checks)
        if problems:
            return {"published": [], "problems": problems}
        return {"published": self.fast_forward(name), "problems": []}

    def publish_batch(self, batch_id: int) -> None:
        """Atomically promote a staged batch into main: ONE version lists
        a fresh commit dir holding its files (the snapshot-pointer swap),
        and only then is it unstaged, so a crash leaves it staged or
        published. Fails if nothing is staged; replaces any existing
        commit with the same id (idempotent replay).

        Optimistic-concurrency rebase (Iceberg's retry-on-commit
        analog): op_seq is assigned at STAGE time, so if another batch
        committed between stage and publish, the staged seqs can
        collide with already-committed ones and the LWW resolver
        (max_by on op_seq) would pick an arbitrary winner for
        overlapping keys. Before publishing, compare the staged batch's
        min op_seq against the max of every OTHER commit (a replay
        replaces the one with this id; base rows carry op_seq 0); on
        conflict, SHIFT every staged op_seq by a constant so the batch
        lands strictly after the interloper, preserving intra-batch
        order, and publish that rewrite instead; without one the staged
        files are hard-linked, no Spark job. Both bounds come from
        manifests (_max_op_seq, delete_equality's sequence cut too), so
        the check reads no data (a manifest lacking one costs a read).
        CDC feeds with globally monotone resume-token seqs never rebase;
        writers are otherwise assumed single-publisher per table (a
        concurrent version write fails its link rather than overwrite —
        the catalog provides the lock in a real Iceberg deployment)."""
        src = f"{self.staging_dir}/batch={batch_id}"
        m = self._manifest(src)
        if not m:
            raise FileNotFoundError(f"no staged batch {batch_id} to publish")
        lo = m["seq_min"] if "seq_min" in m else self._read_commit(src).agg(F.min(OP_SEQ)).head()[0]
        cur_max = self._max_op_seq(exclude=batch_id) or 0
        if lo is None or lo > cur_max:
            self._commit(src, "deltas", batch_id, self._link_tree)
        else:
            shifted = (F.col(OP_SEQ) + F.lit(cur_max + 1 - lo)).cast("long")
            self._commit(self._read_commit(src).withColumn(OP_SEQ, shifted), "deltas", batch_id)
        self._discard(src)

    @staticmethod
    def _link_tree(src: str, target: str) -> None:
        """Hard-link the files under ``src`` into ``target``, a dir no
        version lists yet (an earlier attempt's leftover is cleared)."""
        shutil.rmtree(target, ignore_errors=True)
        for base, _dirs, files in os.walk(src):
            out = os.path.join(target, os.path.relpath(base, src))
            os.makedirs(out, exist_ok=True)
            for f in files:
                os.link(os.path.join(base, f), os.path.join(out, f))

    def _discard(self, path: str) -> None:
        """Remove ``path`` (a staged batch, or a dir no version lists) in
        one rename, then delete it: a crash leaves no half-deleted batch
        staged, only a leftover for remove_orphan_files()."""
        trash = f"{self.path}/.discard-{uuid.uuid4().hex}"
        try:
            os.rename(path, trash)
        except FileNotFoundError:
            return
        shutil.rmtree(trash)

    def abort_batch(self, batch_id: int) -> None:
        """Drop a staged batch (audit failed). No effect on the table."""
        self._discard(f"{self.staging_dir}/batch={batch_id}")

    def remove_orphan_files(self, older_than_s: float = 3 * 24 * 3600) -> list[str]:
        """Iceberg remove_orphan_files analog: delete what no retained
        version lists — leftovers of crashed writes and version writes,
        dirs and files outside any listed dir, abandoned staging
        batches — one set difference between the entries on disk and
        the dirs every version on disk lists (with their parents).
        Only entries older than ``older_than_s`` are removed (Iceberg's
        3-day default) so in-flight writers are never raced; a clock
        skew can delay cleanup but never delete a listed dir. Returns
        the removed paths (relative to the table root)."""
        import time

        cutoff = time.time() - older_than_s
        listed = set().union(*(self._listed(self._load(n)) for n in self._versions()))
        keep = {"metadata", "base", "branches", "staging", *_COMMITS}
        keep |= {os.path.dirname(d) for d in listed}
        keep |= {f"metadata/v{n}.json" for n in self._versions()}
        doomed: list[str] = []
        for base, dirs, files in os.walk(self.path):
            for name in [*dirs, *files]:
                rel = os.path.relpath(os.path.join(base, name), self.path)
                if rel in keep:
                    continue
                if name in dirs:
                    dirs.remove(name)  # a listed dir is whole; an unlisted one goes whole
                if rel not in listed and os.path.getmtime(self._abs(rel)) <= cutoff:
                    doomed.append(rel)
        for rel in doomed:
            p = self._abs(rel)
            if os.path.isdir(p):
                shutil.rmtree(p, ignore_errors=True)
            else:
                os.unlink(p)
        return doomed

    def expire_snapshots(self, keep_last: int = 2) -> int:
        """Retention-based snapshot expiry (reference A25,
        docs/design.md:399 ExpireSnapshots): a version that keeps the
        newest ``keep_last`` archived base generations, then every
        older version goes, with the dirs they list that the current
        one does not — one set difference (crash leftovers no version
        lists are remove_orphan_files' work). Never touches what the
        current version reads. Returns the number of generations
        removed."""
        s = self._state()
        gone = s["archive"][: max(0, len(s["archive"]) - keep_last)]
        if gone:
            s["archive"] = s["archive"][len(gone):]
            self._publish(s)
        cur = self._current()
        old = [n for n in self._versions() if n < cur["version"]]
        doomed = set().union(*(self._listed(self._load(n)) for n in old)) - self._listed(cur)
        for d in sorted(doomed):
            shutil.rmtree(self._abs(d), ignore_errors=True)
        for n in old:  # oldest first: _publish relies on it
            os.unlink(self._vpath(n))
        return len(gone)

    # -- metadata inspection ------------------------------------------
    # Iceberg exposes `db.tbl.files` / `.snapshots` / `.partitions` /
    # `.history` metadata tables for operational queries (how many
    # small files? which commits are live? is compaction due?). The
    # same surface here, driven by the current version, listings of the
    # dirs it lists and parquet FOOTER reads — no data pages are
    # touched, so each call is O(files) metadata work regardless of
    # table size.

    def _walk_parquet(self, root: str):
        for base, _dirs, fs in os.walk(root):
            for f in sorted(fs):
                if f.endswith(".parquet"):
                    yield os.path.join(base, f)

    def _live_files(self, s: dict, rel: str) -> list[str]:
        """The parquet files of the dir ``rel`` that version ``s`` reads:
        all of them, less those in partition dirs a partial compaction
        masked (_read_commit filters the same masks by value)."""
        root = self._abs(rel)
        masked = {f"{c}={v}" for c, vals in s["drop"].get(rel, {}).items() for v in vals}
        return [
            p for p in self._walk_parquet(root)
            if masked.isdisjoint(os.path.relpath(p, root).split(os.sep))
        ]

    def _file_row(self, path: str, section: str, batch_id):
        import pyarrow.parquet as pq

        md = pq.ParquetFile(path).metadata
        col = self.partition_col
        vals = [x.split("=", 1)[1] for x in path.split(os.sep) if col and x.startswith(f"{col}=")]
        return {
            "file_path": os.path.relpath(path, self.path),
            "section": section,
            "batch_id": batch_id,
            "partition": vals[-1] if vals else None,
            "record_count": md.num_rows,
            "file_size_bytes": os.path.getsize(path),
            "num_row_groups": md.num_row_groups,
        }

    def _file_rows(
        self, include_archive: bool = False, include_staging: bool = False
    ) -> list[dict]:
        # Iceberg's files metadata lists delete files beside data files
        # (content=POSITION_DELETES); same here, a section each, keyed by
        # the delete commit id. Staged (WAP) batches show in files() for
        # an operator debugging a stuck audit, never in the live-state
        # views snapshots()/partitions(). Files in partitions a partial
        # compaction masked are not live.
        s = self._current()
        dirs = [("base", None, d) for d in s["base"]]
        for kind, section in zip(_COMMITS, ("delta", "pos_delete", "eq_delete")):
            dirs += [(section, i, s[kind][str(i)]) for i in self._ids(kind, s)]
        if include_archive:
            dirs += [("archive", None, d) for g in s["archive"] for d in g["dirs"]]
        rows = [self._file_row(p, sec, i) for sec, i, d in dirs for p in self._live_files(s, d)]
        if include_staging:
            for p in self._walk_parquet(self.staging_dir):
                batch = os.path.relpath(p, self.staging_dir).split(os.sep)[0]
                if batch.startswith("batch="):
                    rows.append(self._file_row(p, "staged", int(batch.split("=", 1)[1])))
        return rows

    def files(self, include_archive: bool = False) -> DataFrame:
        """Iceberg `files` metadata-table analog: one row per data file
        with section (base/delta/staged/archive), owning commit,
        partition value, footer record count and on-disk size."""
        return self._meta_frame(
            self._file_rows(include_archive, include_staging=True),
            "file_path string, section string, batch_id long, partition string,"
            " record_count long, file_size_bytes long, num_row_groups long",
        )

    def snapshots(self) -> DataFrame:
        """Iceberg `snapshots` analog: one row per live delta commit
        plus one for the compacted base, with manifest key bounds,
        file/record counts, and whether VERSION AS OF can still reach
        versions before it (expired = folded by compact())."""
        folded = self._current()["folded"]
        by_commit: dict[tuple, dict] = {}
        for r in self._file_rows():
            k = (r["section"], r["batch_id"])
            agg = by_commit.setdefault(
                k, {"n_files": 0, "record_count": 0, "file_size_bytes": 0}
            )
            agg["n_files"] += 1
            agg["record_count"] += r["record_count"]
            agg["file_size_bytes"] += r["file_size_bytes"]
        deltas = self._current()["deltas"]
        rows = []
        for (section, batch_id), agg in sorted(
            by_commit.items(), key=lambda kv: (kv[0][1] is not None, kv[0][1])
        ):
            m = self._manifest(self._abs(deltas[str(batch_id)])) if section == "delta" else {}
            bounded = "min" in m and "max" in m
            rows.append(
                {
                    "version": batch_id if section == "delta" else folded,
                    "section": section,
                    "key_min": str(m["min"]) if bounded else None,
                    "key_max": str(m["max"]) if bounded else None,
                    "history_expired_before": folded if section == "base" else None,
                    **agg,
                }
            )
        return self._meta_frame(
            rows,
            "version long, section string, key_min string, key_max string,"
            " history_expired_before long, n_files long, record_count long,"
            " file_size_bytes long",
        )

    def partitions(self) -> DataFrame:
        """Iceberg `partitions` analog: per-partition live file/record
        totals (base + deltas) — the input to cold-partition compaction
        targeting."""
        agg: dict[str, dict] = {}
        for r in self._file_rows():
            p = agg.setdefault(
                r["partition"], {"n_files": 0, "record_count": 0, "file_size_bytes": 0}
            )
            p["n_files"] += 1
            p["record_count"] += r["record_count"]
            p["file_size_bytes"] += r["file_size_bytes"]
        rows = [
            {"partition": k, **v}
            for k, v in sorted(agg.items(), key=lambda kv: (kv[0] is None, kv[0]))
        ]
        schema = "partition string, n_files long, record_count long, file_size_bytes long"
        return self._meta_frame(rows, schema)

    def history(self) -> DataFrame:
        """Iceberg `history` analog: the compaction lineage — archived
        base generations (oldest first), the live base, and the
        last-folded-batch watermark that bounds time travel."""
        s = self._current()
        rows = [(g["gen"], "archived", None) for g in s["archive"]]
        rows.append((s["gen"], "current", s["folded"]))
        return self.spark.createDataFrame(
            rows, "generation long, status string, folded_through long"
        )

    def _meta_frame(self, rows: list[dict], schema: str) -> DataFrame:
        import pandas as pd

        if not rows:
            return self.spark.createDataFrame([], schema)
        return self.spark.createDataFrame(pd.DataFrame(rows, dtype=object), schema)

    def truncate(self) -> None:
        """Drop all data for a re-initial-sync (reference A23): _fold to
        an empty base, so VERSION AS OF an earlier commit raises
        SnapshotExpiredError and no old delete file strikes new rows."""
        self._fold(None)

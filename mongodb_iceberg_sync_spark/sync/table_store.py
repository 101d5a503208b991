"""Merge-on-read key-value table on plain parquet (reference A12-A15).

The reference targets Iceberg merge-on-read: upsert = equality-delete
old row + append new; delete = equality-delete (reference
docs/design.md:291-300). No Iceberg runtime jar ships in this
environment, so this module re-creates the same semantics on bare
parquet, structured exactly like Iceberg would:

  {table}/base/            — compacted data files ("data files")
  {table}/deltas/batch=N/  — per-commit upsert+tombstone files
                             ("equality delete files" + appended rows)
  {table}/pos_deletes/delete=N/, {table}/eq_deletes/delete=N/
                           — positional and equality delete files
  {table}/staging/         — commits and base rewrites in flight; never read
  {table}/archive/gen=N/   — base dirs (and delete files) a fold replaced,
                             kept until expire_snapshots()

- Read  = base ∪ deltas less the rows delete files strike, each commit
  and delete file read with its manifest's schema; last-writer-wins by
  (key, op_seq), tombstones dropped (Iceberg's MoR).
- Write = one delta or delete directory per batch_id, under one
  protocol: stage the rows and their manifest (the schema; for a delta
  also key bounds, column bounds and key bloom, observed by the write
  itself — no read-back job) under staging/, then publish the
  finished dir by rename. A reader sees a whole commit
  with its manifest or none of it, and a replayed batch replaces its
  own directory ⇒ idempotent commits (reference A21 at-least-once
  protocol, docs/design.md:339-348).
- Compact = one fold step (_fold) behind compact(), compact(where=...)
  and truncate(): stage the new base under staging/, archive the base
  dirs it replaces, rename it in, retire the deltas and delete files it
  absorbed (reference A24 RewriteDataFiles, docs/design.md:394-400).

Scale: the merged view is one shuffle on the key (max_by aggregation,
partial-aggregatable map-side). With Iceberg jars on a real cluster,
SparkCatalog + MERGE INTO replaces this file-level bookkeeping 1:1 —
the apply/backfill layers only depend on the upsert/delete/read
contract, so swapping backends is a constructor change.
"""

from __future__ import annotations

import json
import os
import shutil
from functools import reduce

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

OP_SEQ = "_op_seq"  # total order of applied ops (resume-token position)
OP_TYPE = "_op"  # upsert | delete
TOMBSTONE = "delete"
MANIFEST = "_manifest.json"  # per-commit key min/max stats (data skipping)
COMPACTION_MARK = "_compaction.json"  # last batch id folded into base
_BULK_COL = "__bulk_batch"  # commit_batches' staged partition column


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
        os.makedirs(self.base_dir, exist_ok=True)
        os.makedirs(self.delta_dir, exist_ok=True)
        # Partition spec lives in table metadata (_spec.json), not the
        # constructor: like Iceberg, the spec can EVOLVE without
        # rewriting data, so reopening a table must recover the current
        # spec from disk, and a constructor arg only seeds a NEW table.
        if not os.path.exists(self._spec_path):
            self._write_spec(
                {"current": partition_col, "history": [{"spec_id": 0, "col": partition_col}]}
            )
        elif partition_col is not None and self.partition_col != partition_col:
            raise ValueError(
                f"table at {self.path} has partition spec "
                f"{self.partition_col!r}; pass partition_col=None to reopen "
                "or evolve_partition_spec() to change it"
            )

    # -- partition spec (evolvable, Iceberg partition-evolution analog) --

    @property
    def _spec_path(self) -> str:
        return f"{self.path}/_spec.json"

    def _read_spec(self) -> dict:
        try:
            with open(self._spec_path) as f:
                return json.load(f)
        except (OSError, ValueError):
            return {"current": None, "history": [{"spec_id": 0, "col": None}]}

    def _write_spec(self, spec: dict) -> None:
        with open(self._spec_path, "w") as f:
            json.dump(spec, f)

    @property
    def partition_col(self) -> str | None:
        """The CURRENT partition spec — new commits and compactions use
        it; already-written commits keep the spec they were written
        under (recorded in their manifest)."""
        return self._read_spec()["current"]

    def evolve_partition_spec(self, new_col: str | None) -> int:
        """Change the partition spec for FUTURE commits without touching
        existing data — Iceberg partition evolution (metadata-only).
        Old commits stay in their old layout; the merge-on-read path
        reads every commit dir on its own (_read_commit, with the
        schema its manifest records) so mixed layouts coexist;
        the next full compact() rewrites the whole table under the new
        spec. Returns the new spec id."""
        spec = self._read_spec()
        if new_col == spec["current"]:
            return spec["history"][-1]["spec_id"]
        sid = spec["history"][-1]["spec_id"] + 1
        spec["current"] = new_col
        spec["history"].append({"spec_id": sid, "col": new_col})
        self._write_spec(spec)
        return sid

    @property
    def base_dir(self) -> str:
        return f"{self.path}/base"

    @property
    def delta_dir(self) -> str:
        return f"{self.path}/deltas"

    @property
    def archive_dir(self) -> str:
        return f"{self.path}/archive"

    @property
    def pos_delete_dir(self) -> str:
        return f"{self.path}/pos_deletes"

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

    @staticmethod
    def _ids(root: str, prefix: str) -> list[int]:
        """Sorted ids of the ``<prefix><id>`` dirs under ``root``."""
        if not os.path.isdir(root):
            return []
        return sorted(
            int(d.split("=", 1)[1]) for d in os.listdir(root) if d.startswith(prefix)
        )

    def _pos_delete_ids(self) -> list[int]:
        return self._ids(self.pos_delete_dir, "delete=")

    @property
    def eq_delete_dir(self) -> str:
        return f"{self.path}/eq_deletes"

    def _eq_delete_ids(self) -> list[int]:
        return self._ids(self.eq_delete_dir, "delete=")

    def delete_equality(
        self, values_df: DataFrame, batch_id: int
    ) -> int:
        """Iceberg v2 EQUALITY delete file: ``values_df``'s columns are
        the equality ids, its rows the values to delete. Strikes every
        data row (base OR delta, any file) matching a value row whose
        op_seq is <= the sequence-number cut: the commits' max op_seq,
        read before any delete file applies (_max_op_seq), so a replay
        keeps its cut. Later upserts of the same values survive,
        exactly Iceberg's older-sequence-only contract. The third delete
        shape beside key tombstones (commit_batch op=delete) and
        positional deletes (delete_where): committing one scans for no
        matching row — the file is just the value rows — which is why
        CDC engines emit equality deletes when they know values but not
        positions. Shares the commit id-space (time travel to before
        ``batch_id`` does not see it; rollback drops it); a replay
        replaces its own file (_commit). Spark jobs: the base's schema
        read, then two each for the op_seq max and the distinct write;
        five however many delete files are live. Returns the delete-row
        count."""
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
        return self._commit(
            out, f"{self.eq_delete_dir}/delete={batch_id}", self._write_delete
        )

    def _delete_dirs(self, root: str, as_of_batch) -> list[str]:
        """The delete commits under ``root`` visible AS OF ``as_of_batch``."""
        last = float("inf") if as_of_batch is None else as_of_batch
        dirs = [f"{root}/delete={i}" for i in self._ids(root, "delete=") if i <= last]
        return [d for d in dirs if self._has_parquet(d)]

    def _apply_eq_deletes(self, df: DataFrame, as_of_batch) -> DataFrame:
        """Anti-join the (base ∪ deltas) rows against every visible
        equality-delete file: a row dies when its equality-id columns
        match a delete row AND its op_seq <= that file's sequence cut.
        Broadcast: delete files hold VALUES, not data."""
        for d in self._delete_dirs(self.eq_delete_dir, as_of_batch):
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
        if not self._has_parquet(self.base_dir):
            return 0
        base = self.spark.read.parquet(self.base_dir)
        dels = base.filter(cond).select(
            F.col("_metadata.file_path").alias("file_path"),
            F.col("_metadata.row_index").alias("row_index"),
        )
        return self._commit(
            dels, f"{self.pos_delete_dir}/delete={batch_id}", self._write_delete
        )

    def _apply_pos_deletes(self, base: DataFrame, as_of_batch) -> DataFrame:
        """Anti-join the base scan against every visible delete file.
        Broadcast: delete files are the small side by construction
        (they hold two columns of deleted-row positions, not data);
        at 100 TB the per-task build is the same bounded delete-index
        Iceberg readers carry."""
        dirs = self._delete_dirs(self.pos_delete_dir, as_of_batch)
        if not dirs:
            return base
        dels = reduce(DataFrame.union, [self._read_commit(d) for d in dirs])
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

    def _base_layout_spec(self):
        """Spec the CURRENT base files are laid out under: None when
        base is empty or flat; the partition column when base holds
        `col=value` dirs. Derived from the directory shape, so it is
        always true of the files on disk."""
        if not os.path.isdir(self.base_dir):
            return None
        for d in os.listdir(self.base_dir):
            if "=" in d and os.path.isdir(f"{self.base_dir}/{d}"):
                return d.split("=", 1)[0]
        return None

    def append_base(self, df: DataFrame) -> None:
        """Backfill append (reference A15): rows land in base directly,
        stamped as op_seq=0 upserts.

        Guarded against MIXED base layouts: appending under a spec that
        differs from the existing base files' layout would put flat
        files and `col=value` dirs in one directory, which parquet
        directory discovery rejects (CONFLICTING_DIRECTORY_STRUCTURES)
        — run a full compact() after evolve_partition_spec() before
        appending more backfill."""
        if self._has_parquet(self.base_dir):
            on_disk = self._base_layout_spec()
            if on_disk != self.partition_col:
                raise ValueError(
                    f"append_base under spec {self.partition_col!r} would mix "
                    f"layouts with the existing base (written under "
                    f"{on_disk!r}); run compact() first to rewrite base "
                    "under the current spec"
                )
        self._writer(
            df.withColumn(OP_SEQ, F.lit(0).cast("long")).withColumn(
                OP_TYPE, F.lit("upsert")
            )
        ).mode("append").parquet(self.base_dir)

    def commit_batch(self, batch_df: DataFrame, batch_id: int) -> int:
        """Apply one CDC micro-batch (upserts + deletes), idempotently;
        returns the number of rows committed.

        batch_df must carry [key, OP_SEQ, OP_TYPE, payload...]. It is
        staged with its manifest, then published (_publish); a replayed
        batch_id replaces its own delta directory — the Spark-native
        version of the reference's commit-ordering protocol (A21): state
        converges no matter how often the batch replays. Spark jobs: the write,
        plus one per shuffle stage in batch_df's lineage (two in all for
        apply_batch's LWW-folded ops); the manifest statistics ride the
        write (_write_commit).
        """
        return self._commit(batch_df, f"{self.delta_dir}/batch={batch_id}")

    def commit_batches(self, batch_df: DataFrame, batch_col: str) -> list[int]:
        """Bulk commit: one micro-batch per distinct integer value of
        ``batch_col``, byte-equivalent on disk to a ``commit_batch``
        loop (same ``batch=<id>`` dirs, same manifest JSON) at O(1)
        Spark jobs instead of O(batches)·2.

        A loop pays one filtered write per batch, each re-scanning the
        source. Here ONE partitioned write stages every batch dir
        (shuffled on the batch key, so batches build in parallel tasks,
        not sequential jobs), _write_manifests_bulk adds every manifest
        while the dirs are still staged, and each dir is then published
        by rename, so each batch is whole on its own, as in the loop.
        Spark jobs: one per shuffle stage in batch_df's lineage, the
        batch-key shuffle, the write, and five for the manifests.
        Returns the sorted batch ids committed.

        Only rows with a non-NULL ``batch_col`` are committed (a NULL
        micro-batch id is meaningless). Falls back to the per-batch
        loop under a partition spec, where the nested
        ``partitionBy(batch, spec)`` layout would not match the loop's.
        """
        if self.partition_col is not None:
            ids = sorted(
                r[0]
                for r in batch_df.filter(F.col(batch_col).isNotNull())
                .select(batch_col).distinct().collect()
            )
            for b in ids:
                self.commit_batch(
                    batch_df.filter(F.col(batch_col) == b).drop(batch_col), b
                )
            return ids
        staging = f"{self.staging_dir}/bulk"
        (
            batch_df.filter(F.col(batch_col).isNotNull())
            .withColumnRenamed(batch_col, _BULK_COL)
            .repartition(_BULK_COL)
            .write.mode("overwrite")
            .partitionBy(_BULK_COL)
            .parquet(staging)
        )
        ids = sorted(
            int(d.split("=", 1)[1])
            for d in os.listdir(staging)
            if d.startswith(f"{_BULK_COL}=")  # not the _SUCCESS marker
        )
        self._write_manifests_bulk(staging, ids)
        for b in ids:
            self._publish(f"{staging}/{_BULK_COL}={b}", f"{self.delta_dir}/batch={b}")
        shutil.rmtree(staging, ignore_errors=True)
        return ids

    def _write_manifests_bulk(self, staging: str, batch_ids: list[int]) -> None:
        """Manifests for many commits staged by one partitioned write.

        Field-identical to what ``_write_commit`` records per commit,
        but the statistics come from reading back the staged files,
        grouped by their partition column: a schema read, one grouped
        stats agg and one grouped bloom collect (each a map stage and a
        result job), five jobs in all. The bloom collect is bounded by
        _BLOOM_BITS rows per commit regardless of commit size.
        """
        if not batch_ids:
            return
        df = self.spark.read.option("basePath", staging).parquet(
            *[f"{staging}/{_BULK_COL}={b}" for b in batch_ids]
        )
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
        for b in batch_ids:
            row = stats[b]  # every dir the partitioned write made has rows
            self._dump_manifest(
                f"{staging}/{_BULK_COL}={b}",
                df.drop(_BULK_COL).schema,
                row.lo,
                row.hi,
                self._col_stats(row, stat_cols),
                bitmaps.get(b, 0),
            )

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
        """SQL aggregates of a commit's key bounds (lo/hi) and column
        bounds (lo{i}/hi{i} for ``stat_cols[i]``)."""
        cols = [sql_ident(c) for c in (self.key, *stat_cols)]
        names = ["", *range(len(stat_cols))]
        return [f"min({c}) AS lo{n}" for c, n in zip(cols, names)] + [
            f"max({c}) AS hi{n}" for c, n in zip(cols, names)
        ]

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
        self, target, schema, lo=None, hi=None, col_stats=None, bitmap=None
    ) -> None:
        """Every manifest records ``schema``; a data commit's (``bitmap``
        given) also its key bounds, key bloom, spec and column bounds."""
        m = {}
        if bitmap is not None:
            m = {
                "key": self.key,
                "min": lo,
                "max": hi,
                "bloom_bits": self._BLOOM_BITS,
                "bloom": format(bitmap, "x"),
                # spec this commit was written under (partition
                # evolution: later commits may use a different one)
                "spec": self.partition_col,
                "columns": col_stats,
            }
        # what a read of the dir returns, less the partition column it
        # infers from the dir names: _read_commit declares it, so no
        # schema-inference job runs
        m["schema"] = _as_read(schema.jsonValue())
        with open(f"{target}/{MANIFEST}", "w") as f:
            json.dump(m, f)

    def _commit(self, df: DataFrame, dst: str, write=None) -> int:
        """Stage a commit bound for ``dst`` with ``write`` (default
        _write_commit), then publish it; returns its row count."""
        staged = self._staged(dst)
        n = (write or self._write_commit)(df, staged)
        self._publish(staged, dst)
        return n

    def _staged(self, dst: str) -> str:
        """Staging dir of a commit bound for ``dst``; fixed, so a retry
        overwrites its crashed attempt."""
        rel = os.path.relpath(dst, self.path).replace("/", "-")
        return f"{self.staging_dir}/commit-{rel}"

    def _publish(self, src: str | None, dst: str) -> None:
        """Make the finished commit dir ``src`` (data and manifest) visible
        as ``dst``, or with ``src`` None take ``dst`` out — the only code
        that moves a commit dir into or out of deltas/,
        branches/<name>/, pos_deletes/ or eq_deletes/, apart from what
        a fold absorbs and drop_branch discards. A new id is one
        rename; a replaced id is first moved aside into staging/, so it
        is missing only between two renames (a crash there: the batch
        replays, its checkpoint unwritten)."""
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        os.makedirs(self.staging_dir, exist_ok=True)
        old = f"{self._staged(dst)}.old"
        shutil.rmtree(old, ignore_errors=True)
        if os.path.exists(dst):
            os.rename(dst, old)
        if src is not None:
            os.rename(src, dst)
        shutil.rmtree(old, ignore_errors=True)

    def unpublish_batch(self, batch_id: int) -> None:
        """Take the published commit ``batch_id`` out of deltas/, the
        reverse of _publish: one rename into staging/, then the delete,
        so a reader sees the whole commit or none of it."""
        self._publish(None, f"{self.delta_dir}/batch={batch_id}")

    def _write_commit(self, df: DataFrame, staged: str) -> int:
        """Write one commit's rows and its manifest to ``staged``, a dir
        under staging/ that no reader opens (overwriting an earlier
        attempt); returns the commit's row count. Spark jobs: the write,
        plus one per shuffle stage in ``df``'s lineage; no read-back.

        The manifest is the Iceberg-manifest analog: key min/max,
        per-column lower/upper bounds, and a key bloom filter
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
        self._writer(observed).mode("overwrite").parquet(staged)
        row = obs.get
        bitmap = 0
        for j in range(len(self._BLOOM_SLICES)):
            for pos in row[f"bloom{j}"]:
                bitmap |= 1 << int(pos)
        col_stats = self._col_stats(row, stat_cols)
        if spec in col_stats:
            # a schema-only read lists the dirs to infer the partition
            # column's type, without the footer-reading job
            read = self.spark.read.schema(schema).parquet(staged)
            types = {x.schema[spec].dataType.typeName() for x in (df, read)}
            if len(types) > 1 and not types <= {"byte", "short", "integer", "long"}:
                del col_stats[spec]
        self._dump_manifest(staged, schema, row["lo"], row["hi"], col_stats, bitmap)
        return row["n"]

    def _write_delete(self, df: DataFrame, staged: str) -> int:
        """_write_commit for a delete file, which has no key column: its
        manifest records its schema alone."""
        obs = Observation()
        df.observe(obs, F.expr("count(1) AS n")).write.mode("overwrite").parquet(staged)
        self._dump_manifest(staged, df.schema)
        return obs.get["n"]

    def _manifest(self, path: str) -> dict:
        """The manifest of the commit dir ``path``; {} when it is missing
        or unreadable. Stats are advisory: every use of a missing field
        degrades to "keep" (no skipping)."""
        try:
            with open(f"{path}/{MANIFEST}") as f:
                m = json.load(f)
        except (OSError, ValueError):
            return {}
        return m if isinstance(m, dict) else {}

    def _read_commit(self, path: str) -> DataFrame:
        """The commit dir ``path`` read with the schema its manifest
        records: no schema-inference job. Without one (no manifest, or an
        older one) the read infers it, one job."""
        schema = self._manifest(path).get("schema")
        reader = self.spark.read
        if schema is not None:
            reader = reader.schema(StructType.fromJson(schema))
        return reader.parquet(path)

    def _max_op_seq(self, exclude: str | None = None) -> int | None:
        """Max op_seq over main's live commit dirs other than ``exclude``,
        each read with its manifest's schema, before any delete file
        applies (a delete must not lower its own replay's cut); None
        when no commit holds one. Base rows carry op_seq 0."""
        # the select drops the partition columns a read infers from dir
        # names, so flat and partitioned commits union
        seqs = [
            self._read_commit(d).select(OP_SEQ) for d in self.prune_batches() if d != exclude
        ]
        if not seqs:
            return None
        return reduce(DataFrame.union, seqs).agg(F.max(OP_SEQ)).head()[0]

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
        if self._pos_delete_ids() or self._eq_delete_ids():
            raise ValueError(
                "scan_append() on a table with row-level delete files "
                f"({self.path}): the append-log path applies no pos/eq "
                "delete folding and would resurrect deleted rows — use "
                "scan() (MoR fold) instead"
            )
        df = self._raw(col_bounds=where_bounds)
        return None if df is None else df.drop(OP_SEQ, OP_TYPE)

    def _last_folded_batch(self) -> int | None:
        """Highest batch id folded into base by compact() — versions at
        or before it are expired (their deltas no longer exist)."""
        try:
            with open(f"{self.path}/{COMPACTION_MARK}") as f:
                return json.load(f)["last_folded_batch"]
        except (OSError, ValueError, KeyError):
            return None

    def _check_not_expired(self, as_of_batch: int | None) -> None:
        folded = self._last_folded_batch()
        if as_of_batch is not None and folded is not None and as_of_batch < folded:
            raise SnapshotExpiredError(
                f"VERSION AS OF batch {as_of_batch} expired: compact() folded "
                f"batches <= {folded} into base (Iceberg ExpireSnapshots analog)"
            )

    def _has_parquet(self, path: str) -> bool:
        return any(
            f.endswith(".parquet") for _, _, fs in os.walk(path) for f in fs
        )

    def prune_batches(
        self,
        lo=None,
        hi=None,
        as_of_batch: int | None = None,
        root: str | None = None,
        col_bounds: dict | None = None,
    ) -> list[str]:
        """Scan planning: delta commit dirs that can contain keys in
        [lo, hi] (either bound may be None) at or before as_of_batch.
        Dirs without a manifest are conservatively kept; dirs left
        without data files (partition-targeted compaction folded all
        their partitions) are dropped. ``root`` defaults to main's
        delta dir; branch reads pass the branch's commit root.
        ``col_bounds`` ({column: (lo, hi)}) additionally skips commits
        whose manifest COLUMN stats cannot intersect — the Iceberg
        lower/upper-bounds evaluator; callers must only use it for
        append-only reads (see scan_append)."""
        root = root or self.delta_dir
        out = []
        for b in self._ids(root, "batch="):
            if as_of_batch is not None and b > as_of_batch:
                continue
            path = f"{root}/batch={b}"
            if not self._has_parquet(path):
                continue
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
        Each commit and delete file is read with its manifest's schema,
        so building this runs one job however many are live: the base's
        schema read. ``col_bounds`` ({column: (lo, hi)}) also
        prunes commits on column stats and filters rows: only sound
        without the fold (scan_append)."""
        self._check_not_expired(as_of_batch)
        parts = []
        if self._has_parquet(self.base_dir):
            # positional deletes strike physical base rows before any
            # logical (LWW) merge — the Iceberg v2 read contract
            base = self.spark.read.parquet(self.base_dir)
            parts.append(self._apply_pos_deletes(base, as_of_batch))
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
        # one read per commit dir, with its manifest's schema: a combined
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

    def _generations(self) -> list[int]:
        return self._ids(self.archive_dir, "gen=")

    def _delta_batch_ids(self) -> list[int]:
        return self._ids(self.delta_dir, "batch=")

    def _commit_roots(self) -> list[tuple[str, str, str]]:
        """(files() section, root, dir prefix) of main's commit roots."""
        return [
            ("delta", self.delta_dir, "batch="),
            ("pos_delete", self.pos_delete_dir, "delete="),
            ("eq_delete", self.eq_delete_dir, "delete="),
        ]

    def _mark_folded(self, batch_id: int | None) -> None:
        if batch_id is None:
            return
        prev = self._last_folded_batch()
        if prev is None or batch_id > prev:
            with open(f"{self.path}/{COMPACTION_MARK}", "w") as f:
                json.dump({"last_folded_batch": batch_id}, f)

    def rollback_to_batch(self, batch_id: int) -> list[int]:
        """Iceberg rollback_to_snapshot analog: make VERSION AS OF
        ``batch_id`` the CURRENT state by dropping every later commit
        (and any staged batches). Metadata-only — nothing is rewritten;
        the dropped commit dirs are removed like Iceberg orphaning the
        rolled-back snapshots' files. Refuses to roll back past the
        last compaction (those versions are expired — same contract as
        snapshot(as_of_batch=...)). Returns the dropped batch ids."""
        self._check_not_expired(batch_id)
        dropped = []
        # delete commits share the id-space: they roll back too, each
        # taken out whole by _publish
        for _, root, prefix in self._commit_roots():
            for i in self._ids(root, prefix):
                if i > batch_id:
                    self._publish(None, f"{root}/{prefix}{i}")
                    dropped.append(i)
        shutil.rmtree(self.staging_dir, ignore_errors=True)
        return dropped

    # -- branch refs (Iceberg branching / multi-commit WAP analog) ----
    #
    # A branch is a named ref forked from a main version: its commits
    # land under branches/<name>/batch=N (invisible to main readers),
    # its view is "main AS OF the fork + the branch's own commits", and
    # fast_forward() publishes by MOVING the commit dirs into deltas —
    # metadata + rename only, no data rewrite, exactly Iceberg's
    # fast-forward of main to a validated audit branch. The single-
    # commit WAP path (stage/audit/publish) is the degenerate form.
    # Reference: the staged-commit plan item (docs/design.md WAP notes);
    # Iceberg ref semantics per the public spec (refs map in table
    # metadata).

    @property
    def branches_dir(self) -> str:
        return f"{self.path}/branches"

    @property
    def _refs_path(self) -> str:
        return f"{self.path}/_refs.json"

    def _read_refs(self) -> dict:
        try:
            with open(self._refs_path) as f:
                refs = json.load(f)
                refs.setdefault("branches", {})
                refs.setdefault("tags", {})
                return refs
        except (OSError, ValueError):
            return {"branches": {}, "tags": {}}

    def _write_refs(self, refs: dict) -> None:
        with open(self._refs_path, "w") as f:
            json.dump(refs, f)

    def _main_head(self) -> int | None:
        ids = self._delta_batch_ids()
        return ids[-1] if ids else None

    def create_branch(self, name: str, at_batch: int | None = None) -> int | None:
        """Fork a branch at ``at_batch`` (default: current main head).
        Metadata-only. Returns the fork batch id (None = empty table)."""
        refs = self._read_refs()
        if name in refs["branches"] or name in refs["tags"]:
            raise ValueError(f"ref {name!r} already exists")
        fork = at_batch if at_batch is not None else self._main_head()
        if fork is not None:
            self._check_not_expired(fork)
        refs["branches"][name] = {"fork_batch": fork, "batches": []}
        self._write_refs(refs)
        return fork

    def _branch_ref(self, name: str) -> dict:
        refs = self._read_refs()
        if name not in refs["branches"]:
            raise ValueError(f"no such branch {name!r}")
        return refs["branches"][name]

    def commit_to_branch(self, batch_df: DataFrame, batch_id: int, name: str) -> None:
        """commit_batch onto a branch: the same stage → manifest →
        publish commit and the same Spark jobs, but the commit dir is
        reachable only via the ref."""
        ref = self._branch_ref(name)
        head = ref["batches"][-1] if ref["batches"] else ref["fork_batch"]
        if head is not None and batch_id <= head and batch_id not in ref["batches"]:
            raise ValueError(
                f"branch {name!r} head is {head}; new batch id must advance"
            )
        self._commit(batch_df, f"{self.branches_dir}/{name}/batch={batch_id}")
        if batch_id not in ref["batches"]:
            refs = self._read_refs()
            refs["branches"][name]["batches"].append(batch_id)
            self._write_refs(refs)

    def fast_forward(self, name: str) -> list[int]:
        """Publish a branch: move its commit dirs, manifests included,
        into main's deltas (_publish, one rename each) and drop the ref.
        Requires main to still be AT the fork point (a
        true fast-forward — Iceberg's fastForwardBranch contract);
        anything else would silently interleave diverged histories.
        Returns the published batch ids."""
        ref = self._branch_ref(name)
        if self._main_head() != ref["fork_batch"]:
            raise ValueError(
                f"cannot fast-forward {name!r}: main advanced past fork "
                f"batch {ref['fork_batch']} (now at {self._main_head()}); "
                "recreate the branch from the new head"
            )
        for b in ref["batches"]:
            src = f"{self.branches_dir}/{name}/batch={b}"
            dst = f"{self.delta_dir}/batch={b}"
            if os.path.exists(dst):
                raise ValueError(f"batch {b} already exists on main")
            self._publish(src, dst)
        published = list(ref["batches"])
        self.drop_branch(name)
        return published

    def drop_branch(self, name: str) -> None:
        """Delete a branch's ref and its unpublished commit dirs."""
        refs = self._read_refs()
        refs["branches"].pop(name, None)
        self._write_refs(refs)
        shutil.rmtree(f"{self.branches_dir}/{name}", ignore_errors=True)

    def create_tag(self, name: str, at_batch: int | None = None) -> int:
        """Pin a named immutable ref to a version (Iceberg tag):
        ``snapshot(as_of_batch=resolve_tag(name))`` reads it forever —
        or until compaction expires the version, which resolve_tag
        surfaces as SnapshotExpiredError, same contract as any
        time-travel read. Tags and branches share the ref namespace."""
        refs = self._read_refs()
        if name in refs["tags"] or name in refs["branches"]:
            raise ValueError(f"ref {name!r} already exists")
        at = at_batch if at_batch is not None else self._main_head()
        if at is None:
            raise ValueError("cannot tag an empty table")
        self._check_not_expired(at)
        refs["tags"][name] = at
        self._write_refs(refs)
        return at

    def resolve_tag(self, name: str) -> int:
        refs = self._read_refs()
        if name not in refs["tags"]:
            raise ValueError(f"no such tag {name!r}")
        at = refs["tags"][name]
        self._check_not_expired(at)
        return at

    def drop_tag(self, name: str) -> None:
        refs = self._read_refs()
        refs["tags"].pop(name, None)
        self._write_refs(refs)

    def refs(self) -> DataFrame:
        """Metadata table of named refs (Iceberg `refs` analog): main,
        every branch (fork point, head, commit count), every tag."""
        refs = self._read_refs()
        rows = [
            ("main", "branch", None, self._main_head(), len(self._delta_batch_ids()))
        ]
        for name, ref in sorted(refs["branches"].items()):
            head = ref["batches"][-1] if ref["batches"] else ref["fork_batch"]
            rows.append((name, "branch", ref["fork_batch"], head, len(ref["batches"])))
        for name, at in sorted(refs["tags"].items()):
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
        the delta count. Fire when either the commit count or the
        small-file count crosses its threshold — both are metadata
        listings (no data read), cheap enough for every batch loop.
        The thresholds mirror Iceberg's rewrite_data_files defaults in
        spirit: bound reader fan-in, don't chase perfection."""
        batches = self._delta_batch_ids()
        if len(batches) >= max_delta_batches:
            return True
        n_files = 0
        for root, _dirs, files in os.walk(self.delta_dir):
            n_files += sum(1 for f in files if f.endswith(".parquet"))
            if n_files >= max_delta_files:
                return True
        return False

    def compact(
        self,
        where=None,
        max_records_per_file: int | None = None,
        zorder_by: tuple[str, str] | None = None,
    ) -> None:
        """Rewrite base from the merged snapshot; fold deltas (reference
        A24 RewriteDataFiles, docs/design.md:394-400). Spark jobs: the
        base's schema read, the merged view's shuffle stage and the
        write, as each commit is read with its manifest's schema; plus
        one broadcast per live delete file (the positional ones as one).

        ``max_records_per_file`` bounds output file size (Iceberg's
        rewrite target-file-size, record-count proxy) via Spark's
        native maxRecordsPerFile write option — the writer rolls files
        at the bound with NO extra repartition job, so compaction cost
        is unchanged and downstream scans get uniformly-sized splits.

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

        Both forms go through _fold, which ARCHIVES the superseded base
        (Iceberg keeps old snapshots' files until ExpireSnapshots;
        expire_snapshots() is that step here) and advances the
        last-folded-batch mark, so VERSION AS OF an earlier batch
        raises SnapshotExpiredError (conservative for partial
        compaction: hot-partition history still exists but
        cold-partition history does not, and a half-historical snapshot
        would be silently wrong).
        """
        if where is None:
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
            # partition-targeted rewrite moves partition DIRS by name, which
            # is only sound when every live commit shares the current spec;
            # after an evolution, run a full compact() first (Iceberg's
            # guidance for spec changes is the same: old files keep the old
            # layout until rewritten)
            for b in self._delta_batch_ids():
                spec = self._manifest(f"{self.delta_dir}/batch={b}").get("spec")
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
            parts = [f"{pc}={v}" for v in cold_vals]
        self._fold(rows, parts, max_records_per_file)

    def _fold(
        self,
        rows: DataFrame | None,
        parts: list[str] | None = None,
        max_records_per_file: int | None = None,
    ) -> None:
        """Replace the base's ``col=value`` dirs ``parts`` (None: the
        whole base) with ``rows`` (None: no rows) — the only code that
        swaps base files and retires what they absorbed. The new base is
        staged under staging/; each replaced dir moves into one new
        archive/gen=N and the new ones move in. Then the folded deltas
        go (whole batch=N dirs, or their ``parts`` subdirs), a whole fold
        archives the delete files with the base they struck, and the
        fold mark advances past every commit it covered, deletes too. A
        partial fold refuses while equality deletes are live: its rows
        restart at op_seq 0, under their sequence cut."""
        if parts is not None and self._eq_delete_ids():
            raise ValueError(
                "compact(where=...) while equality-delete files are live "
                "would let them strike the rewritten rows; run full "
                "compact() first"
            )
        folded = self._delta_batch_ids()
        last = max(folded + self._pos_delete_ids() + self._eq_delete_ids(), default=None)
        staged = self._staged(self.base_dir)
        if rows is None:
            shutil.rmtree(staged, ignore_errors=True)
            os.makedirs(staged)
        else:
            w = self._writer(
                rows.withColumn(OP_SEQ, F.lit(0).cast("long")).withColumn(
                    OP_TYPE, F.lit("upsert")
                )
            )
            if max_records_per_file is not None:
                w = w.option("maxRecordsPerFile", max_records_per_file)
            w.mode("overwrite").parquet(staged)
        gens = self._generations()
        gen_dir = f"{self.archive_dir}/gen={gens[-1] + 1 if gens else 0:06d}"
        if parts is None:
            os.makedirs(self.archive_dir, exist_ok=True)
            moves = [(self.base_dir, gen_dir), (staged, self.base_dir)] + [
                (d, f"{gen_dir}/{os.path.basename(d)}")
                for d in (self.pos_delete_dir, self.eq_delete_dir)
            ]
            retired = [f"{self.delta_dir}/batch={b}" for b in folded]
        else:
            os.makedirs(gen_dir)
            moves = [
                (f"{src}/{d}", f"{dst}/{d}")
                for d in parts
                for src, dst in ((self.base_dir, gen_dir), (staged, self.base_dir))
            ]
            retired = [f"{self.delta_dir}/batch={b}/{d}" for b in folded for d in parts]
        for src, dst in moves:
            if os.path.isdir(src):  # absent: no base or delete files yet, or no live rows
                os.rename(src, dst)
        for d in retired:
            shutil.rmtree(d, ignore_errors=True)
        shutil.rmtree(staged, ignore_errors=True)
        self._mark_folded(last)

    # -- write-audit-publish (staged commits) -------------------------
    # Iceberg's WAP pattern (spark.wap.id / branch commits): a batch is
    # written to an isolated staging location, validated there, and only
    # then made visible by an ATOMIC metadata operation — readers never
    # see unaudited rows, and an audit failure costs nothing but the
    # staged files. The analog here: staging/batch=N is outside the
    # deltas/ root the read path unions, and publish is one directory
    # rename (atomic on POSIX), mirroring Iceberg's snapshot pointer
    # swap. Reference hook: the design's at-least-once commit protocol
    # (docs/design.md:339-348) — WAP adds the audit gate in front of it.

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
        if not self._has_parquet(target):
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
        ref = self._branch_ref(name)
        problems: list[str] = []
        if not ref["batches"]:
            return [f"branch {name!r}: no commits to publish"]
        for b in ref["batches"]:
            target = f"{self.branches_dir}/{name}/batch={b}"
            if not self._has_parquet(target):
                problems.append(f"branch commit {b}: no data files")
                continue
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
        audit fast-forwards main to the branch (rename-only) and
        returns the published batch ids; any violation leaves the
        branch INTACT for inspection (drop_branch to discard) and
        nothing reaches main."""
        problems = self.audit_branch(name, checks=checks)
        if problems:
            return {"published": [], "problems": problems}
        return {"published": self.fast_forward(name), "problems": []}

    def publish_batch(self, batch_id: int) -> None:
        """Atomically promote a staged batch into deltas/ (_publish: one
        rename — the snapshot-pointer swap). Fails if nothing is staged;
        replaces any existing commit with the same id (idempotent
        replay).

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
        order, and publish that rewrite instead. The check is
        _max_op_seq, delete_equality's sequence cut too: it reads only
        op_seq columns, with each commit's manifest schema, so no job
        per commit. CDC feeds with globally monotone
        resume-token seqs never trigger it; writers are otherwise
        assumed single-publisher per table (no cross-process commit
        lock here — the catalog provides that in a real Iceberg
        deployment)."""
        src = f"{self.staging_dir}/batch={batch_id}"
        dst = f"{self.delta_dir}/batch={batch_id}"
        if not self._has_parquet(src):
            raise FileNotFoundError(f"no staged batch {batch_id} to publish")
        staged = self._read_commit(src)
        lo = staged.agg(F.min(OP_SEQ)).head()[0]
        cur_max = self._max_op_seq(exclude=dst) or 0
        if lo is None or lo > cur_max:
            self._publish(src, dst)
        else:
            shift = F.lit(cur_max + 1 - lo)
            shifted = (F.col(OP_SEQ) + shift).cast("long")
            self._commit(staged.withColumn(OP_SEQ, shifted), dst)
            shutil.rmtree(src)

    def abort_batch(self, batch_id: int) -> None:
        """Drop a staged batch (audit failed). No effect on the table."""
        shutil.rmtree(f"{self.staging_dir}/batch={batch_id}", ignore_errors=True)

    def remove_orphan_files(self, older_than_s: float = 3 * 24 * 3600) -> list[str]:
        """Iceberg remove_orphan_files analog: delete files under the
        table root that no reader path can reach — leftovers from
        crashed writes (`_temporary`, stray files outside any commit
        dir), abandoned staging batches, and the staged dirs of commits
        and of compact()/truncate() base rewrites that crashed before
        their swap. Only entries older than ``older_than_s`` are removed
        (Iceberg's 3-day default) so in-flight writers are never raced. Live
        data — base/, deltas/batch=*/, archive/gen=*/ and fresh
        staging — is structurally excluded, not timestamp-excluded:
        the walk starts from the unreachable roots, so a clock skew
        can delay cleanup but never delete reachable files. Returns
        the removed paths (relative to the table root)."""
        import time

        cutoff = time.time() - older_than_s
        doomed: list[str] = []

        def _old(p: str) -> bool:
            try:
                return os.path.getmtime(p) <= cutoff
            except OSError:
                return False

        # 1. crashed-write leftovers anywhere under the root
        for base, dirs, files in os.walk(self.path):
            for d in list(dirs):
                if d == "_temporary" and _old(os.path.join(base, d)):
                    doomed.append(os.path.join(base, d))
                    dirs.remove(d)
        # 2. stray entries directly under deltas/ (not batch=N) and
        #    archive/ (not gen=N)
        for root, prefix in ((self.delta_dir, "batch="), (self.archive_dir, "gen=")):
            if not os.path.isdir(root):
                continue
            for d in os.listdir(root):
                p = os.path.join(root, d)
                if not d.startswith(prefix) and _old(p):
                    doomed.append(p)
        # 3. abandoned staged batches, crashed commits and folds
        if os.path.isdir(self.staging_dir):
            for d in os.listdir(self.staging_dir):
                p = os.path.join(self.staging_dir, d)
                if _old(p):
                    doomed.append(p)
        for p in doomed:
            if os.path.isdir(p):
                shutil.rmtree(p, ignore_errors=True)
            else:
                try:
                    os.remove(p)
                except OSError:
                    pass
        return [os.path.relpath(p, self.path) for p in doomed]

    def expire_snapshots(self, keep_last: int = 2) -> int:
        """Retention-based snapshot expiry (reference A25,
        docs/design.md:399 ExpireSnapshots): drop archived base
        generations beyond the newest keep_last. Never touches the live
        base/deltas — the current snapshot is unaffected. Returns the
        number of generations removed."""
        gens = self._generations()
        doomed = gens[: max(0, len(gens) - keep_last)] if keep_last > 0 else gens
        for d in doomed:
            shutil.rmtree(f"{self.archive_dir}/gen={d:06d}", ignore_errors=True)
        return len(doomed)

    # -- metadata inspection ------------------------------------------
    # Iceberg exposes `db.tbl.files` / `.snapshots` / `.partitions` /
    # `.history` metadata tables for operational queries (how many
    # small files? which commits are live? is compaction due?). The
    # same surface here, driven purely by directory listings + parquet
    # FOOTER reads — no data pages are touched, so each call is O(files)
    # metadata work regardless of table size.

    def _walk_parquet(self, root: str):
        for base, _dirs, fs in os.walk(root):
            for f in sorted(fs):
                if f.endswith(".parquet"):
                    yield os.path.join(base, f)

    def _file_row(self, path: str, section: str, batch_id):
        import pyarrow.parquet as pq

        md = pq.ParquetFile(path).metadata
        part_val = None
        if self.partition_col is not None:
            for seg in path.split(os.sep):
                if seg.startswith(f"{self.partition_col}="):
                    part_val = seg.split("=", 1)[1]
        return {
            "file_path": os.path.relpath(path, self.path),
            "section": section,
            "batch_id": batch_id,
            "partition": part_val,
            "record_count": md.num_rows,
            "file_size_bytes": os.path.getsize(path),
            "num_row_groups": md.num_row_groups,
        }

    def _file_rows(
        self, include_archive: bool = False, include_staging: bool = False
    ) -> list[dict]:
        # Iceberg's files metadata lists delete files beside data files
        # (content=POSITION_DELETES); same here, a section each, keyed by
        # the delete commit id. Staged (WAP) commits show in files() for
        # an operator debugging a stuck audit, never in the live-state
        # views snapshots()/partitions(). A root without a dir prefix is
        # one section with no commit id.
        roots = [("base", self.base_dir, None), *self._commit_roots()]
        if include_staging:
            roots.append(("staged", self.staging_dir, "batch="))
        if include_archive:
            roots.append(("archive", self.archive_dir, None))
        rows = []
        for section, root, prefix in roots:
            for i in [None] if prefix is None else self._ids(root, prefix):
                d = root if i is None else f"{root}/{prefix}{i}"
                rows += [self._file_row(p, section, i) for p in self._walk_parquet(d)]
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
        folded = self._last_folded_batch()
        by_commit: dict[tuple, dict] = {}
        for r in self._file_rows():
            k = (r["section"], r["batch_id"])
            agg = by_commit.setdefault(
                k, {"n_files": 0, "record_count": 0, "file_size_bytes": 0}
            )
            agg["n_files"] += 1
            agg["record_count"] += r["record_count"]
            agg["file_size_bytes"] += r["file_size_bytes"]
        rows = []
        for (section, batch_id), agg in sorted(
            by_commit.items(), key=lambda kv: (kv[0][1] is not None, kv[0][1])
        ):
            m = (
                self._manifest(f"{self.delta_dir}/batch={batch_id}")
                if section == "delta"
                else {}
            )
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
        folded = self._last_folded_batch()
        rows = [
            {
                "generation": g,
                "status": "archived",
                "folded_through": None,
            }
            for g in self._generations()
        ]
        rows.append(
            {
                "generation": (rows[-1]["generation"] + 1) if rows else 0,
                "status": "current",
                "folded_through": folded,
            }
        )
        schema = "generation long, status string, folded_through long"
        return self._meta_frame(rows, schema)

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

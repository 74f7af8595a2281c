"""VersionedTable — snapshot-versioned parquet tables with evolving schemas.

A from-scratch, Spark-native re-implementation of the table semantics the
reference gets from Apache Iceberg (ref: api.py:19-26 catalog bootstrap;
notebook cells 7-65 exercise the features):

  * snapshot history + time travel by snapshot id / timestamp
    (ref: api.py:151-168 FOR SYSTEM_TIME AS OF; #cell-45 VERSION AS OF)
  * metadata tables .history / .snapshots / .metadata_log_entries / .refs
    (ref: api.py:78-88; #cell-16/17/39/44)
  * schema evolution via immutable FIELD IDS — add/drop/rename columns,
    old-name resolution by field id, drop/re-add gets a NEW id
    (ref: api.py:170-215; iceberg_db/test/metadata/v8.metadata.json)
  * row-level DML: INSERT/UPDATE/DELETE/MERGE, copy-on-write AND
    merge-on-read via position-delete files, selected by the Iceberg
    table properties write.delete.mode / write.update.mode
    (ref: #cell-11/19/24; #cell-18 (json:557) / #cell-21 (json:665)
    TBLPROPERTIES write.delete.mode=merge-on-read; table2 has 11 MoR
    snapshots per iceberg_db/table2/metadata/v14.metadata.json)
  * changelog between snapshots (ref: #cell-32/34/35 create_changelog_view)
  * hidden day() partitioning (ref: #cell-7 PARTITIONED BY (day(added_at)))

Storage layout (mirrors Iceberg's Hadoop catalog protocol):

    <location>/data/snap-<id>/...parquet     immutable data files
    <location>/metadata/v<N>.metadata.json   full table metadata, versioned
    <location>/metadata/version-hint.text    latest metadata version

Scale notes: data files are written by Spark executors (never collected);
reads are parquet scans; only the metadata JSON (KBs) is driver-side,
exactly as in Iceberg. Copy-on-write DML is file-pruned (untouched files
survive by reference); merge-on-read DML writes position-delete files
(file_path/pos keyed off the parquet reader's _metadata column) applied as
one anti-join at read time, so delete-heavy churn never rewrites data —
compact() folds delete files back in. Commits take a short exclusive lock
on metadata/commit.lock around the version check-and-flip (see _commit).
"""

from __future__ import annotations

import functools
import json
import os
import random
import time
import uuid
from dataclasses import dataclass
from datetime import timezone as _tz_mod

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

_PARTITION_COL = "_p_day"  # materialized hidden-partition column

def _day_spec(fields, partition_day: str | None) -> list[dict]:
    """Build a ``day(partition_day)`` partition spec (or [] for
    unpartitioned), binding the source column by FIELD ID so renames
    don't break the write path or pruning.  One definition shared by
    create() and set_partition_spec()."""
    if partition_day is None:
        return []
    by_name = {f.name: f.id for f in fields}
    if partition_day not in by_name:
        raise ValueError(f"partition column {partition_day} not in schema")
    return [
        {
            "source_name": partition_day,
            "source_id": by_name[partition_day],
            "transform": "day",
        }
    ]


# Rebase attempts before a CommitConflict surfaces.  _commit only raises
# when another writer ADVANCED the table, so every retry implies global
# progress (Iceberg retries indefinitely on that basis); the cap is a
# LIVENESS backstop against one handle starving forever under sustained
# contention, sized far above any plausible lost-race streak.
COMMIT_MAX_REBASES = 100


class _Unbounded:
    """Open interval end for predicate ranges: ``_MIN`` compares below and
    ``_MAX`` above every stats value, so one-sided predicates (col < 5)
    reuse the same (lo, hi) range checks as closed ones."""

    def __init__(self, low: bool):
        self._low = low

    def __lt__(self, other):  # _MIN < x, _MAX < nothing
        return self._low

    def __gt__(self, other):  # _MAX > x, _MIN > nothing
        return not self._low


_MIN = _Unbounded(low=True)
_MAX = _Unbounded(low=False)

# one conjunct of a simple predicate: ident <op> literal (number or
# single-quoted SQL string); anything richer -> ranges unknown
_CONJUNCT_RE = None  # compiled lazily in _ranges_from_predicate


def _ranges_from_predicate(condition) -> dict[str, tuple] | None:
    """Best-effort column ranges from a predicate STRING of AND-ed simple
    comparisons (``col = lit``, ``col < lit``, ``col BETWEEN a AND b``...).
    Returns None — "cannot bound the predicate" — for Column objects,
    OR/NOT/parenthesized text, or any unrecognized conjunct; callers treat
    None conservatively (the predicate could match anything).  A split on
    AND inside a string literal produces conjuncts that fail the
    comparison regex, which also collapses to the safe None."""
    import re as _re

    global _CONJUNCT_RE
    if _CONJUNCT_RE is None:
        _CONJUNCT_RE = _re.compile(
            r"^\s*([A-Za-z_][A-Za-z0-9_]*)\s*(<=|>=|==|=|<|>)\s*"
            r"('(?:[^']|'')*'|-?\d+(?:\.\d+)?)\s*$"
        )
    if not isinstance(condition, str):
        return None

    def lit(tok: str):
        if tok.startswith("'"):
            return tok[1:-1].replace("''", "'")
        return float(tok) if "." in tok else int(tok)

    # protect BETWEEN's inner AND from the conjunct split
    guarded = _re.sub(
        r"(?i)\s+between\s+('(?:[^']|'')*'|-?\d+(?:\.\d+)?)\s+and\s+",
        r" between \1 @AND@ ",
        condition.strip(),
    )
    ranges: dict[str, tuple] = {}
    for part in _re.split(r"(?i)\s+and\s+", guarded):
        m = _re.match(
            r"(?i)^\s*([A-Za-z_][A-Za-z0-9_]*)\s+between\s+"
            r"('(?:[^']|'')*'|-?\d+(?:\.\d+)?)\s+@AND@\s+"
            r"('(?:[^']|'')*'|-?\d+(?:\.\d+)?)\s*$",
            part,
        )
        if m:
            col, lo, hi = m.group(1), lit(m.group(2)), lit(m.group(3))
        else:
            m = _CONJUNCT_RE.match(part)
            if not m:
                return None
            col, op, v = m.group(1), m.group(2), lit(m.group(3))
            lo, hi = {
                "=": (v, v),
                "==": (v, v),
                "<": (_MIN, v),
                "<=": (_MIN, v),
                ">": (v, _MAX),
                ">=": (v, _MAX),
            }[op]
        if col in ranges:  # intersect repeated-column conjuncts
            plo, phi = ranges[col]
            try:
                lo = lo if plo is _MIN else (plo if lo is _MIN else max(lo, plo))
                hi = hi if phi is _MAX else (phi if hi is _MAX else min(hi, phi))
            except TypeError:  # mixed literal types: cannot bound
                return None
        ranges[col] = (lo, hi)
    return ranges or None


class CommitConflict(RuntimeError):
    """Another writer committed since this handle loaded its metadata."""


@dataclass
class _Field:
    id: int
    name: str
    type: str  # Spark DDL type string

    def to_json(self) -> dict:
        return {"id": self.id, "name": self.name, "type": self.type}


def _spark_type(ddl: str) -> T.DataType:
    return T._parse_datatype_string(ddl)


def _q(name: str) -> str:
    """Backtick-quote an identifier for SQL expression text."""
    return "`" + name.replace("`", "``") + "`"


def _ddl(fields: list[_Field]) -> str:
    """A reader schema in DDL form: the recorded names and types."""
    return ", ".join(f"{_q(f.name)} {f.type}" for f in fields)


# the fixed schema of every position-delete file (_write_delete_files)
_POS_DELETE_DDL = "_del_file STRING, _del_pos BIGINT"


def _schema_fields(df_schema: T.StructType, start_id: int = 1) -> list[_Field]:
    return [
        _Field(id=start_id + i, name=f.name, type=f.dataType.simpleString())
        for i, f in enumerate(df_schema.fields)
    ]


class VersionedTable:
    """A snapshot-versioned parquet table with field-id schema evolution."""

    def __init__(self, spark: SparkSession, location: str):
        self.spark = spark
        # absolute + normalized: trailing slashes or a relative path would
        # break the fixed-offset relative-key computation for position
        # deletes (and relative paths resolve against the JVM's cwd, not
        # Python's, in Spark reads)
        self.location = os.path.abspath(location)
        self._meta = self._load_meta()

    # ------------------------------------------------------------------
    # metadata protocol
    # ------------------------------------------------------------------

    @property
    def _meta_dir(self) -> str:
        return os.path.join(self.location, "metadata")

    def _load_meta(self) -> dict:
        hint = os.path.join(self._meta_dir, "version-hint.text")
        with open(hint) as f:
            version = int(f.read().strip())
        with open(os.path.join(self._meta_dir, f"v{version}.metadata.json")) as f:
            return json.load(f)

    def _commit(self, meta: dict) -> None:
        """Write v{N+1}.metadata.json then flip version-hint (atomic rename),
        the same two-step commit the Hadoop catalog uses. Optimistic
        concurrency: if another writer committed since this handle loaded
        its metadata, the commit is rejected (Iceberg's
        CommitFailedException) — callers re-load and retry.

        The check-and-flip runs under an exclusive fcntl lock on
        metadata/commit.lock, so two same-host writers cannot both pass the
        version check and silently drop a snapshot (the TOCTOU window a bare
        read-compare-write would leave open). The lock covers ONLY the
        metadata swap — data files are written before, under unique paths —
        so it is held for microseconds. On a shared filesystem without fcntl
        semantics a real deployment swaps this for a catalog with atomic
        compare-and-swap, exactly as Iceberg requires of its catalogs."""
        import fcntl

        lock_path = os.path.join(self._meta_dir, "commit.lock")
        with open(lock_path, "w") as lock:
            fcntl.flock(lock, fcntl.LOCK_EX)
            try:
                hint = os.path.join(self._meta_dir, "version-hint.text")
                with open(hint) as f:
                    on_disk = int(f.read().strip())
                if on_disk != self._meta["version"]:
                    raise CommitConflict(
                        f"table advanced to v{on_disk} since this handle loaded "
                        f"v{self._meta['version']}; reload and retry"
                    )
                version = meta["version"] = self._meta["version"] + 1
                meta["metadata_log"] = self._meta.get("metadata_log", []) + [
                    {
                        "version": self._meta["version"],
                        "file": f"v{self._meta['version']}.metadata.json",
                        "timestamp_ms": self._meta["timestamp_ms"],
                    }
                ]
                meta["timestamp_ms"] = _now_ms()
                path = os.path.join(self._meta_dir, f"v{version}.metadata.json")
                tmp = path + f".tmp-{uuid.uuid4().hex[:8]}"
                with open(tmp, "w") as f:
                    json.dump(meta, f, indent=1)
                os.rename(tmp, path)
                tmp = hint + f".tmp-{uuid.uuid4().hex[:8]}"
                with open(tmp, "w") as f:
                    f.write(str(version))
                os.rename(tmp, hint)
            finally:
                fcntl.flock(lock, fcntl.LOCK_UN)
        self._meta = meta

    # ------------------------------------------------------------------
    # creation
    # ------------------------------------------------------------------

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        location: str,
        df: DataFrame | None = None,
        schema: T.StructType | None = None,
        partition_day: str | None = None,
        properties: dict[str, str] | None = None,
        sort_by: list[str] | None = None,
        now_ms: int | None = None,
    ) -> VersionedTable:
        """CREATE TABLE (+ optional AS SELECT).  ``partition_day=col`` is the
        hidden ``day(col)`` partition transform (ref: #cell-7);
        ``properties`` are free-form TBLPROPERTIES (ref: #cell-21);
        ``sort_by`` is a write-time sort order (Iceberg SORTED BY): every
        data file is internally sorted on these columns so parquet row-group
        min/max stats become tight, selective range predicates skip whole
        row groups, and the layout compresses better."""
        if df is None and schema is None:
            raise ValueError("need df (CTAS) or schema (CREATE TABLE)")
        os.makedirs(os.path.join(location, "metadata"), exist_ok=False)
        os.makedirs(os.path.join(location, "data"), exist_ok=True)
        fields = _schema_fields(schema or df.schema)
        spec0 = _day_spec(fields, partition_day)
        meta = {
            "format_version": 1,
            "version": 1,
            "timestamp_ms": now_ms or _now_ms(),
            "last_field_id": len(fields),
            "current_schema_id": 0,
            "schemas": [{"schema_id": 0, "fields": [f.to_json() for f in fields]}],
            "partition_spec": spec0,
            "partition_specs": [{"spec_id": 0, "spec": spec0}],
            "current_spec_id": 0,
            "sort_order": list(sort_by or []),
            "properties": dict(properties or {}),
            "current_snapshot_id": None,
            "last_snapshot_id": 0,
            "snapshots": [],
            "metadata_log": [],
            "refs": {},
        }
        path = os.path.join(location, "metadata", "v1.metadata.json")
        with open(path, "w") as f:
            json.dump(meta, f, indent=1)
        with open(os.path.join(location, "metadata", "version-hint.text"), "w") as f:
            f.write("1")
        table = cls(spark, location)
        if df is not None:
            table.append(df, now_ms=now_ms)
        return table

    @staticmethod
    def exists(location: str) -> bool:
        return os.path.exists(os.path.join(location, "metadata", "version-hint.text"))

    # ------------------------------------------------------------------
    # schema accessors
    # ------------------------------------------------------------------

    def _schema_by_id(self, schema_id: int) -> list[_Field]:
        for s in self._meta["schemas"]:
            if s["schema_id"] == schema_id:
                return [_Field(**f) for f in s["fields"]]
        raise KeyError(f"schema_id {schema_id} not found")

    @property
    def current_schema(self) -> list[_Field]:
        return self._schema_by_id(self._meta["current_schema_id"])

    @property
    def columns(self) -> list[str]:
        return [f.name for f in self.current_schema]

    def spark_schema(self) -> T.StructType:
        return T.StructType(
            [T.StructField(f.name, _spark_type(f.type)) for f in self.current_schema]
        )

    # ------------------------------------------------------------------
    # writes
    # ------------------------------------------------------------------

    # column physical types whose min/max are JSON-serializable and safely
    # comparable for skipping (strings, ints, floats; timestamps via isoformat)
    _STATS_TYPES = (int, float, str)

    def _file_stats(self, pf) -> dict[str, list]:
        """Per-column [min, max] from one parquet footer — Iceberg's
        lower_bounds/upper_bounds, collected at write time for free.
        A column's bounds are recorded ONLY if every row group contributed
        min/max: partial stats (writers omit them e.g. for oversized
        values) would produce bounds that don't cover the file and prune
        files that DO contain matches."""
        meta = pf.metadata
        mins: dict[str, object] = {}
        maxs: dict[str, object] = {}
        incomplete: set[str] = set()
        for rg in range(meta.num_row_groups):
            for ci in range(meta.num_columns):
                col = meta.row_group(rg).column(ci)
                name = col.path_in_schema
                st = col.statistics
                if st is None or not st.has_min_max:
                    incomplete.add(name)
                    continue
                try:
                    lo, hi = st.min, st.max
                except NotImplementedError:
                    # pyarrow cannot decode some logical types' stats
                    # (decimals stored as INT32/INT64): no bounds
                    incomplete.add(name)
                    continue
                if hasattr(lo, "isoformat"):
                    # TIMESTAMP_MICROS stats come back TZ-AWARE from
                    # pyarrow; bounds parsed from predicates are naive
                    # UTC strings, and a '+00:00' suffix sorts a file's
                    # min lexically ABOVE an equal naive bound — which
                    # mis-prunes exact-boundary matches (a DELETE at the
                    # boundary silently no-ops).  Normalize to naive UTC.
                    lo, hi = (
                        v.astimezone(_tz_mod.utc).replace(tzinfo=None)
                        if getattr(v, "tzinfo", None) is not None
                        else v
                        for v in (lo, hi)
                    )
                    lo, hi = lo.isoformat(), hi.isoformat()
                if not isinstance(lo, self._STATS_TYPES):
                    incomplete.add(name)
                    continue
                mins[name] = lo if name not in mins else min(mins[name], lo)
                maxs[name] = hi if name not in maxs else max(maxs[name], hi)
        return {
            name: [mins[name], maxs[name]] for name in mins if name not in incomplete
        }

    def _list_written_files(self, rel: str, with_stats: bool = True) -> list[dict]:
        """Enumerate the parquet files of a freshly written directory with
        per-file row counts AND column min/max bounds taken from the parquet
        FOOTERS (pyarrow, driver-side, metadata-only — the write-time stats
        collection every table format does; no Spark job, no data read).
        With a write-time sort order these bounds are tight, so range
        predicates can skip whole files from the manifest alone."""
        import pyarrow.parquet as pq

        out: list[dict] = []
        root = os.path.join(self.location, rel)
        for full in sorted(
            os.path.join(d, n)
            for d, _, names in os.walk(root)
            for n in names
            if n.endswith(".parquet")
        ):
            pf = pq.ParquetFile(full)
            entry = {
                "path": os.path.relpath(full, self.location),
                "rows": pf.metadata.num_rows,
            }
            if with_stats:
                entry["stats"] = self._file_stats(pf)
            out.append(entry)
        return out

    def _write_data_files(self, df: DataFrame, snapshot_id: int) -> list[dict]:
        """Write df as parquet under data/snap-<id>/ in the current schema:
        every field, under its current name, CAST to its recorded type, so
        a file's physical schema is exactly the schema its entry's
        ``schema_id`` records and reads can plan from the metadata alone
        (see _read_entries).  A column that cannot be cast to the table type
        fails here, at write, as Iceberg rejects such writes.  Returns one
        manifest entry carrying the FILE LIST with per-file row counts
        (Iceberg manifests are file-granular for the same reason:
        file-level pruning needs file-level entries)."""
        fields = self.current_schema
        missing = [f.name for f in fields if f.name not in df.columns]
        if missing:
            raise ValueError(f"write is missing columns {missing}")
        casts = {f.name: f"CAST({_q(f.name)} AS {f.type})" for f in fields}
        exprs = [f"{casts[n]} AS {_q(n)}" for n in casts]
        # unique suffix per write attempt: concurrent/failed writers can
        # never collide on a path; losers become orphans for
        # remove_orphan_files (Iceberg writes UUID filenames for the same
        # reason)
        rel = f"data/snap-{snapshot_id}-{uuid.uuid4().hex[:8]}"
        path = os.path.join(self.location, rel)
        spec = self._meta["partition_spec"]
        sort_order = self._meta.get("sort_order", [])
        if spec:
            src = self._spec_source_name(spec)
            if src is None:
                raise ValueError(
                    "partition source column was dropped; evolve the spec "
                    "(set_partition_spec) before writing"
                )
            exprs.append(f"date_format({casts[src]}, 'yyyy-MM-dd') AS {_PARTITION_COL}")
        out = df.selectExpr(*exprs)
        if sort_order:
            # write-time sort: tight row-group min/max for predicate skipping
            out = out.sortWithinPartitions(*sort_order)
        writer = out.write.mode("errorifexists")
        if spec:
            writer = writer.partitionBy(_PARTITION_COL)
        writer.parquet(path)
        files = self._list_written_files(rel)
        return [
            {
                "path": rel,
                "schema_id": self._meta["current_schema_id"],
                "spec_id": self._meta["current_spec_id"],
                "rows": sum(f["rows"] for f in files),
                "files": files,
                # seq placeholder: stamped with the COMMITTING snapshot's id
                # at commit time (rebase retries re-stamp with the winner)
                "seq": None,
            }
        ]

    def _spec_source_name(self, spec: list[dict]) -> str | None:
        """CURRENT name of a partition spec's source column, resolved by
        field id (rename-proof).  None when the field was dropped."""
        sid = spec[0]["source_id"]
        for f in self.current_schema:
            if f.id == sid:
                return f.name
        return None

    def _entry_partition_spec(self, entry: dict) -> list[dict]:
        """The partition spec an entry's files were WRITTEN under (per-entry
        spec_id, like schema_id): spec evolution must not make old files'
        _p_day= directories mean the wrong column at plan time."""
        return next(
            s["spec"]
            for s in self._meta["partition_specs"]
            if s["spec_id"] == entry["spec_id"]
        )

    def set_partition_spec(
        self, partition_day: str | None, now_ms: int | None = None
    ) -> None:
        """Iceberg partition-spec EVOLUTION: future writes use the new spec
        (``day(partition_day)``, or unpartitioned for None); existing files
        keep their physical layout and are planned with the spec they were
        written under — no data is rewritten (Iceberg's updateSpec).  A
        spec identical to the current one (same source field id and
        transform) is a no-op — no new spec id, no commit."""
        new_spec = _day_spec(self.current_schema, partition_day)
        cur = self._meta["partition_spec"]
        if [
            (s["source_id"], s["transform"]) for s in new_spec
        ] == [(s["source_id"], s["transform"]) for s in cur]:
            return
        meta = json.loads(json.dumps(self._meta))
        specs = meta["partition_specs"]
        new_id = max(s["spec_id"] for s in specs) + 1
        specs.append({"spec_id": new_id, "spec": new_spec})
        meta["current_spec_id"] = new_id
        meta["partition_spec"] = new_spec
        meta["timestamp_ms"] = now_ms or _now_ms()
        self._commit(meta)

    def _next_snapshot_id(self) -> int:
        """Monotonic snapshot ids: max(existing, persisted last_snapshot_id)+1.
        ``len(snapshots)+1`` would RECYCLE ids after expire_snapshots()
        shrinks the list (e.g. surviving [1,3] -> next id 3 again), corrupting
        snapshot selection and the parent chain; the persisted high-water mark
        makes expiry unable to free an id (Iceberg ids are likewise unique
        for the table's lifetime)."""
        return (
            max(
                max((s["snapshot_id"] for s in self._meta["snapshots"]), default=0),
                self._meta["last_snapshot_id"],
            )
            + 1
        )

    def _new_snapshot(
        self,
        operation: str,
        manifest: list[dict],
        now_ms: int | None = None,
        delete_manifest: list[dict] | None = None,
    ) -> dict:
        sid = self._next_snapshot_id()

        # COMMIT-TIME sequence stamping (Iceberg's data sequence numbers):
        # entries NEW in this commit carry an explicit seq=None placeholder
        # from their writer and get seq = the committing snapshot's id
        # (rebase retries re-stamp with the final winner); carried entries
        # keep their stamp.  Equality deletes apply to data entries with a
        # STRICTLY SMALLER seq, so a slow append that wrote its files
        # before a concurrent equality delete but commits after it (rebase)
        # is correctly NOT affected — write-time ids in file paths cannot
        # give that ordering.
        def stamp(e: dict) -> dict:
            return e if e["seq"] is not None else {**e, "seq": sid}

        manifest = [stamp(e) for e in manifest]
        delete_manifest = [stamp(e) for e in (delete_manifest or [])]
        parent = self._meta["current_snapshot_id"]
        return {
            "snapshot_id": sid,
            "parent_id": parent,
            "timestamp_ms": now_ms or _now_ms(),
            "operation": operation,
            "manifest": manifest,
            "delete_manifest": list(delete_manifest or []),
            # Iceberg's snapshot summary map: ADDED = first committed by
            # THIS snapshot (seq == sid distinguishes new entries from
            # carried ones), TOTAL = the snapshot's full state.  This is
            # what lets operators audit a table's write history from
            # metadata alone (.snapshots), no data files opened.
            "summary": {
                "added-data-files": sum(1 for e in manifest if e["seq"] == sid),
                "added-records": sum(
                    e["rows"] for e in manifest if e["seq"] == sid
                ),
                "added-delete-files": sum(
                    1 for e in (delete_manifest or []) if e["seq"] == sid
                ),
                "total-data-files": len(manifest),
                "total-records": sum(m["rows"] for m in manifest),
                "total-delete-files": len(delete_manifest or []),
            },
        }

    def append(
        self, df: DataFrame, now_ms: int | None = None, operation: str = "append"
    ) -> None:
        """INSERT INTO semantics (ref: #cell-11 INSERT VALUES). Existing
        position-delete files still apply to the carried-over data files.
        ``operation`` keeps history labels honest when a MERGE with no key
        overlap degenerates to a pure append.

        Concurrency: if another writer commits between this handle's load
        and the metadata swap, the commit REBASES onto the new snapshot and
        retries (data files are already written; only the swap re-runs) —
        a pure append composes with any concurrent commit, Iceberg's
        fast-append retry."""
        sid = self._next_snapshot_id()
        added = self._write_data_files(df, sid)
        self._commit_delta(operation, added, [], now_ms, row_level=False)

    def overwrite(
        self, df: DataFrame, now_ms: int | None = None, operation: str = "overwrite"
    ) -> None:
        """REPLACE TABLE ... AS SELECT semantics (ref: #cell-13 RTAS).
        A full rewrite folds any position-delete files in (fresh manifest,
        empty delete manifest) — this is how compact() compacts MoR state."""
        sid = self._next_snapshot_id()
        manifest = self._write_data_files(df, sid)
        self._commit_snapshot(operation, manifest, now_ms)

    def refresh(self) -> None:
        """Re-load metadata from disk, picking up other writers' commits
        (Iceberg's Table.refresh())."""
        self._meta = self._load_meta()

    def _isolation(self, which: str) -> str:
        """Isolation level for a row-level operation, from the Iceberg table
        properties ``write.<op>.isolation-level`` (falling back to
        ``write.isolation-level``).  DEFAULT IS ``serializable`` — Iceberg's
        row-level default (VERDICT r5 #2 flipped the earlier snapshot
        default: a user porting Iceberg workloads must not get weaker
        semantics silently).  Set the property to ``snapshot`` to opt in to
        the cheaper rebase-over-any-append behavior; the manifest-pruned
        bounds check below keeps serializable rebases cheap for
        provably-disjoint concurrent appends either way."""
        lvl = self.properties.get(
            f"write.{which}.isolation-level",
            self.properties.get("write.isolation-level", "serializable"),
        )
        if lvl not in ("snapshot", "serializable"):
            raise ValueError(f"unknown write.{which}.isolation-level: {lvl}")
        return lvl

    def _entry_could_match(self, entry: dict, ranges: dict | None) -> bool:
        """Conservative: could any row of this manifest entry satisfy a
        predicate bounded by ``ranges``?  Unknown predicate shape or bounds
        that overlap answer yes."""
        if ranges is None:
            return True
        name_map = self._stats_name_map(entry)
        spec = self._entry_partition_spec(entry)
        return any(
            self._file_in_ranges(f, ranges, name_map, spec) for f in entry["files"]
        )

    def _stats_name_map(self, entry: dict) -> dict[str, str]:
        """Current column name -> the name the entry's files recorded their
        footer stats under (FIELD-ID resolution across renames — the same
        remap _read_entries applies to data).  Stats are keyed by the names
        at WRITE time, so after rename('id','old_id'); rename('v','id')
        an old file's 'id' stats describe a DIFFERENT field than today's
        'id' — looking them up by current name would prune files that DO
        match (committed-DML corruption, not just a bad plan).  A current
        field with no counterpart in the write-time schema maps to a
        sentinel that can never hit a stats key (added column: no stats,
        cannot prune)."""
        sid = entry["schema_id"]
        if sid == self._meta["current_schema_id"]:
            return {}
        old_by_id = {f.id: f.name for f in self._schema_by_id(sid)}
        return {
            f.name: old_by_id.get(f.id, "\x00missing")
            for f in self.current_schema
        }

    def _probe_snapshot(self, ranges: dict | None) -> dict | None:
        """Current snapshot with its manifest pruned to the files whose
        bounds could satisfy ``ranges`` (plan_files manifest skipping) —
        the input every DML probe scans.  None when the table is empty;
        a pruned-to-empty manifest comes back as-is (the caller's probe
        finds no matches and commits nothing)."""
        snap = self._select_snapshot()
        if snap is None or ranges is None:
            return snap
        return {**snap, "manifest": self.plan_files(ranges)}

    def _commit_delta(
        self,
        operation: str,
        added_manifest: list[dict],
        added_deletes: list[dict],
        now_ms: int | None,
        row_level: bool,
        predicate_ranges: dict | None = None,
    ) -> None:
        """Commit a DELTA (new data-file entries and/or new position-delete
        entries) on top of the CURRENT snapshot, rebasing and retrying on
        CommitConflict — Iceberg's commit-retry loop.  The delta's files are
        already on disk under unique paths, so a retry re-runs only the
        metadata swap, never the Spark job.

        Rebase safety mirrors Iceberg's validations:

        * a pure APPEND (``row_level=False``) composes with ANY concurrent
          commit — the new files touch no existing rows — so it rebases
          unconditionally (Iceberg fast-append);
        * a ROW-LEVEL delta (MoR delete/update/merge: position deletes that
          reference base data files, plus updated-row appends derived from
          base rows) rebases only across concurrent pure appends.  If the
          winner removed/rewrote any base data file, our position deletes
          dangle; if it added delete files of its own, our updated-row
          copies would resurrect rows it deleted.  Either way: conflict.

        Isolation level: rebasing a row-level delta over a concurrent pure
        append is SNAPSHOT isolation (opt-in via the table property
        ``write.isolation-level=snapshot`` or the per-op
        ``write.<op>.isolation-level`` — Iceberg's property names) — the
        delta's predicate is NOT re-evaluated against the winner's newly
        added files, so an appended row matching the predicate survives.
        Under SERIALIZABLE (the default, matching Iceberg's for
        UPDATE/DELETE/MERGE), the rebase additionally
        CONFLICTS whenever a rebased-over append contains files whose
        min/max bounds could satisfy the operation predicate
        (``predicate_ranges``; None = shape unknown = any file could
        match).  The bounds check mirrors Iceberg's
        validateAddedDataFiles conflict detection: conservative in the
        conflict direction — a file with no stats or an unparseable
        predicate counts as a possible match.

        Retry budget: _commit only conflicts when another writer ADVANCED
        the table, so every retry implies system-wide progress and the
        loop retries through lost races (Iceberg's behavior) with a short
        jittered sleep to decorrelate same-host racers.  A hard cap of
        COMMIT_MAX_REBASES total attempts bounds the one remaining
        pathology — a single handle starving behind sustained contention —
        with a loud CommitConflict instead of an unbounded loop.
        """
        base = self._select_snapshot()
        attempts = 0
        while True:
            manifest = (list(base["manifest"]) if base else []) + added_manifest
            deletes = (
                list(base.get("delete_manifest", [])) if base else []
            ) + added_deletes
            try:
                self._commit_snapshot(
                    operation, manifest, now_ms, delete_manifest=deletes
                )
                return
            except CommitConflict:
                attempts += 1
                if attempts > COMMIT_MAX_REBASES:
                    raise
                old = base
                self.refresh()
                time.sleep(random.uniform(0.0, 0.005 * min(attempts, 8)))
                base = self._select_snapshot()
                if row_level:
                    old_paths = {e["path"] for e in (old["manifest"] if old else [])}
                    old_dels = {
                        e["path"]
                        for e in (old.get("delete_manifest", []) if old else [])
                    }
                    new_paths = {e["path"] for e in (base["manifest"] if base else [])}
                    new_dels = {
                        e["path"]
                        for e in (base.get("delete_manifest", []) if base else [])
                    }
                    if not (old_paths <= new_paths and new_dels <= old_dels):
                        raise CommitConflict(
                            f"{operation} delta computed against a snapshot whose "
                            "rows a concurrent commit modified (data files "
                            "rewritten or new delete files added); re-run the "
                            "operation against the current snapshot"
                        ) from None
                    if self._isolation(operation) == "serializable":
                        clashing = [
                            e
                            for e in (base["manifest"] if base else [])
                            if e["path"] not in old_paths
                            and self._entry_could_match(e, predicate_ranges)
                        ]
                        if clashing:
                            raise CommitConflict(
                                f"serializable isolation: {operation} predicate "
                                "could match rows a concurrent append added "
                                f"({clashing[0]['path']}); re-run the operation "
                                "against the current snapshot"
                            ) from None

    def _commit_replace(
        self, added_manifest: list[dict], now_ms: int | None
    ) -> None:
        """Commit a file REWRITE (compaction) with Iceberg's
        RewriteDataFiles validation: the commit replaces exactly the data
        files of the snapshot the rewrite READ, so on conflict it rebases
        across concurrent pure appends — the winner's files are carried
        over untouched next to the rewritten ones.  It conflicts when the
        winner removed/rewrote any of the files being replaced (stale
        input) or added delete files (the rewrite folded the OLD delete
        state in; new position deletes reference pre-rewrite files and
        would be dropped, resurrecting rows).  Maintenance therefore never
        silently drops a concurrent writer's data and never needs to
        re-run its Spark job to land beside appends."""
        base = self._select_snapshot()
        removed = {e["path"] for e in (base["manifest"] if base else [])}
        base_dels = {
            e["path"] for e in (base.get("delete_manifest", []) if base else [])
        }
        cur = base
        attempts = 0
        while True:
            carried = [
                e
                for e in (cur["manifest"] if cur else [])
                if e["path"] not in removed
            ]
            try:
                self._commit_snapshot(
                    "replace", carried + added_manifest, now_ms, delete_manifest=[]
                )
                return
            except CommitConflict:
                attempts += 1
                if attempts > COMMIT_MAX_REBASES:
                    raise
                self.refresh()
                time.sleep(random.uniform(0.0, 0.005 * min(attempts, 8)))
                cur = self._select_snapshot()
                cur_paths = {e["path"] for e in (cur["manifest"] if cur else [])}
                cur_dels = {
                    e["path"]
                    for e in (cur.get("delete_manifest", []) if cur else [])
                }
                if not (removed <= cur_paths and cur_dels <= base_dels):
                    raise CommitConflict(
                        "rewrite computed against files a concurrent commit "
                        "removed, or new delete files landed since the rewrite "
                        "read its snapshot; re-run compaction"
                    ) from None

    def _commit_snapshot(
        self,
        operation: str,
        manifest: list[dict],
        now_ms: int | None = None,
        delete_manifest: list[dict] | None = None,
    ) -> None:
        snap = self._new_snapshot(operation, manifest, now_ms, delete_manifest)
        meta = json.loads(json.dumps(self._meta))
        meta["snapshots"].append(snap)
        meta["current_snapshot_id"] = snap["snapshot_id"]
        meta["last_snapshot_id"] = snap["snapshot_id"]  # expiry-proof high-water
        meta.setdefault("refs", {})["main"] = {"snapshot_id": snap["snapshot_id"]}
        self._commit(meta)

    def _current_manifest(self) -> list[dict]:
        snap = self._current_snapshot_dict()
        return list(snap["manifest"]) if snap else []

    def _current_delete_manifest(self) -> list[dict]:
        snap = self._current_snapshot_dict()
        return list(snap.get("delete_manifest", [])) if snap else []

    def _current_snapshot_dict(self) -> dict | None:
        sid = self._meta["current_snapshot_id"]
        if sid is None:
            return None
        for s in self._meta["snapshots"]:
            if s["snapshot_id"] == sid:
                return s
        raise KeyError(f"snapshot {sid} not found")

    # ------------------------------------------------------------------
    # reads (schema-id-aware: files map to the current schema by field id)
    # ------------------------------------------------------------------

    def read(
        self, snapshot_id: int | None = None, as_of_ms: int | None = None
    ) -> DataFrame:
        """Scan the table; time travel via snapshot_id (VERSION AS OF) or
        as_of_ms (FOR SYSTEM_TIME AS OF) — ref: api.py:151-168, #cell-45.
        Position-delete files (merge-on-read DML) are applied here."""
        snap = self._select_snapshot(snapshot_id, as_of_ms)
        if snap is None:
            return self.spark.createDataFrame([], self.spark_schema())
        return self._scan_snapshot(snap, with_pos=False)

    _TS_SHAPE = None  # compiled lazily below

    @staticmethod
    def _norm_bound(v):
        """Normalize ONLY timestamp-shaped strings to the footer's isoformat
        ('T' separator). A blanket space->'T' rewrite would reorder ordinary
        strings (' ' sorts below any letter) and wrongly prune files."""
        import re as _re

        if VersionedTable._TS_SHAPE is None:
            VersionedTable._TS_SHAPE = _re.compile(r"^\d{4}-\d{2}-\d{2} \d")
        if isinstance(v, str) and VersionedTable._TS_SHAPE.match(v):
            return v.replace(" ", "T", 1)
        # deliberately NO '+00:00' suffix stripping here: timestamp stats
        # are normalized to naive UTC at WRITE time (_file_stats), and a
        # blanket strip would NARROW a genuine string column's recorded
        # max (unsafe direction — mis-prunes files whose suffixed values
        # match the predicate)
        return v

    def _file_in_ranges(
        self,
        f: dict,
        ranges: dict,
        name_map: dict[str, str] | None = None,
        spec: list[dict] | None = None,
    ) -> bool:
        """Conservative file-level predicate check: keep the file unless its
        partition value or column bounds PROVE no row can match.
        ``name_map`` translates current column names to the names the
        file's footer stats were recorded under (see _stats_name_map);
        ``spec`` is the partition spec the file was WRITTEN under (spec
        evolution: defaults to the current spec), whose source column is
        resolved to its CURRENT name by field id — ``ranges`` keys are
        current names and ``_p_day=`` dir values carry no column name."""
        import re as _re

        spec = self._meta["partition_spec"] if spec is None else spec
        src = self._spec_source_name(spec) if spec else None
        if src is not None and src in ranges:
            lo, hi = (self._norm_bound(v) for v in ranges[src])
            m = _re.search(r"_p_day=([0-9-]+)", f["path"])
            # only date-shaped string bounds are comparable with the
            # _p_day dir value; anything else cannot prune here
            if (
                m
                and isinstance(lo, str)
                and isinstance(hi, str)
                and _re.match(r"^\d{4}-\d{2}-\d{2}", lo)
                and _re.match(r"^\d{4}-\d{2}-\d{2}", hi)
                and (hi[:10] < m.group(1) or lo[:10] > m.group(1))
            ):
                return False
        for col, (lo, hi) in ranges.items():
            if name_map:
                col = name_map.get(col, col)
            st = (f.get("stats") or {}).get(col)
            if st is None:
                continue  # no bounds recorded -> cannot prune
            fmin, fmax = (self._norm_bound(v) for v in st)
            lo, hi = self._norm_bound(lo), self._norm_bound(hi)

            # DATE-granular bound vs TIMESTAMP stat: '2024-01-02' means the
            # whole day but compares lexically BELOW '2024-01-02T00:00:00';
            # compare that SIDE at date precision (widens the file's bound:
            # conservative).  Applied per side — a one-sided or mixed-
            # granularity predicate ('ts <= DATE', BETWEEN ts AND DATE)
            # needs it on exactly the date-shaped side.
            def day_vs_ts(bound, stat):
                if (
                    isinstance(bound, str)
                    and isinstance(stat, str)
                    and _re.match(r"^\d{4}-\d{2}-\d{2}$", bound)
                    and _re.match(r"^\d{4}-\d{2}-\d{2}T", stat)
                ):
                    return bound, stat[:10]
                return bound, stat

            try:
                hi_c, fmin_c = day_vs_ts(hi, fmin)
                lo_c, fmax_c = day_vs_ts(lo, fmax)
                if hi_c < fmin_c or lo_c > fmax_c:
                    return False
            except TypeError:  # incomparable types: never prune on doubt
                continue
        return True

    def plan_files(
        self,
        ranges: dict[str, tuple] | None = None,
        snapshot_id: int | None = None,
        as_of_ms: int | None = None,
    ) -> list[dict]:
        """Manifest-level scan planning (Iceberg's file skipping): select
        the manifest entries/files a scan with the given per-column value
        ranges must read, using ONLY driver-side metadata — hidden-partition
        values parsed from paths and per-file min/max bounds recorded at
        write time. With a write-time sort order the bounds are tight and a
        selective range scan touches k of n files without opening the rest.
        ``ranges`` maps column -> (lo, hi), both inclusive."""
        snap = self._select_snapshot(snapshot_id, as_of_ms)
        if snap is None:
            return []
        out: list[dict] = []
        for entry in snap["manifest"]:
            if entry["rows"] == 0:
                continue
            if not ranges:
                out.append(entry)
                continue
            name_map = self._stats_name_map(entry)
            spec = self._entry_partition_spec(entry)
            sel = [
                f for f in entry["files"] if self._file_in_ranges(f, ranges, name_map, spec)
            ]
            if sel:
                out.append(
                    {**entry, "files": sel, "rows": sum(f["rows"] for f in sel)}
                )
        return out

    def scan(
        self,
        ranges: dict[str, tuple] | None = None,
        snapshot_id: int | None = None,
        as_of_ms: int | None = None,
    ) -> DataFrame:
        """Predicate-aware scan: file skipping via ``plan_files`` first, then
        the normal read path (schema mapping + position deletes) over the
        surviving files only. Pruning is CONSERVATIVE — callers still apply
        their exact filter on the result; skipping only removes files that
        provably contain no match."""
        snap = self._select_snapshot(snapshot_id, as_of_ms)
        if snap is None:
            return self.spark.createDataFrame([], self.spark_schema())
        pruned = {
            **snap,
            "manifest": self.plan_files(ranges, snapshot_id, as_of_ms),
        }
        return self._scan_snapshot(pruned, with_pos=False)

    @staticmethod
    def _split_deletes(deletes: list[dict]) -> tuple[list[dict], list[dict]]:
        """(position-delete entries, equality-delete entries)."""
        pos = [d for d in deletes if "eq_field_ids" not in d]
        eq = [d for d in deletes if "eq_field_ids" in d]
        return pos, eq

    def _eq_delete_groups(
        self, entries: list[dict], eq_dels: list[dict]
    ) -> list[tuple[list[dict], list[dict]]]:
        """Group data entries by WHICH equality deletes apply to them.  An
        equality delete applies only to data entries with a strictly
        smaller sequence number (Iceberg v2 scoping): rows appended AFTER
        the delete keep living even if their keys match.  Grouping lets
        the caller read+union each group and build every delete-key
        DataFrame ONCE per group instead of once per entry (typically 1-2
        groups vs E entries — an E-fold smaller plan)."""
        groups: dict[tuple, list[dict]] = {}
        for e in entries:
            key = tuple(d["path"] for d in eq_dels if e["seq"] < d["seq"])
            groups.setdefault(key, []).append(e)
        by_path = {d["path"]: d for d in eq_dels}
        return [
            (es, [by_path[p] for p in key]) for key, es in groups.items()
        ]

    def _apply_eq_deletes(
        self, df: DataFrame, applicable: list[dict]
    ) -> DataFrame:
        """Subtract the given equality-delete files' keys from a scan (the
        caller scopes ``applicable`` by sequence number via
        _eq_delete_groups).  Key columns are tracked by FIELD ID, so
        renames between delete time and read time resolve; a dropped key
        column raises.  The key sets are tiny relative to data, so AQE
        broadcasts each anti-join at scale."""
        if not applicable:
            return df
        id_to_field = {f.id: f for f in self.current_schema}
        groups: dict[tuple, list[dict]] = {}
        for d in applicable:
            groups.setdefault(tuple(d["eq_field_ids"]), []).append(d)
        for ids, ds in groups.items():
            dropped = [i for i in ids if i not in id_to_field]
            if dropped:
                raise ValueError(
                    f"equality-delete file {ds[0]['path']} keys on dropped "
                    f"field id(s) {dropped}; rewrite the table (compact) "
                    "before dropping an equality-delete key column"
                )
            cur = [id_to_field[i] for i in ids]
            parts = []
            for d in ds:
                # written under the names and types at delete time (the
                # entry's schema_id); re-map by id
                written = {f.id: f for f in self._schema_by_id(d["schema_id"])}
                k = self.spark.read.schema(_ddl([written[i] for i in ids])).parquet(
                    os.path.join(self.location, d["path"])
                )
                parts.append(
                    k.selectExpr(
                        *[
                            f"CAST({_q(written[f.id].name)} AS {f.type})"
                            f" AS {_q('_eqk_' + f.name)}"
                            for f in cur
                        ]
                    )
                )
            # no distinct(): each file's keys are distinct already, and an
            # anti-join ignores duplicates (a distinct cost a shuffle job)
            keys = parts[0]
            for p in parts[1:]:
                keys = keys.unionByName(p)
            cond = None
            for f in cur:
                # null-safe: an equality delete with a NULL key deletes
                # NULL-keyed rows (Iceberg's eq-delete semantics)
                e = df[f.name].eqNullSafe(keys[f"_eqk_{f.name}"])
                cond = e if cond is None else (cond & e)
            df = df.join(keys, cond, "left_anti")
        return df

    def _scan_snapshot(self, snap: dict, with_pos: bool) -> DataFrame:
        """The live rows of ``snap``: its manifest entries read as one
        parquet relation per written schema (_read_entries), with
        equality-deleted and position-deleted rows anti-joined away.
        ``with_pos=True`` keeps the (_del_file, _del_pos) row-identity
        columns for DML that writes delete files.

        Every read path plans here: read(), scan(), time travel, the HTTP
        routes, ApiView, MoR delete/update/merge, CoW rewrites and
        compact().  Equality deletes apply per SEQUENCE-SCOPED GROUP of
        entries (each group's delete keys are built once); position
        deletes apply once over the union, keyed per file."""
        entries = [e for e in snap["manifest"] if e["rows"] > 0]
        pos_dels, eq_dels = self._split_deletes(snap.get("delete_manifest", []))
        need_pos = with_pos or bool(pos_dels)
        if not entries:
            empty = self.spark.createDataFrame([], self.spark_schema())
            if with_pos:
                empty = empty.withColumn("_del_file", F.lit(None).cast("string"))
                empty = empty.withColumn("_del_pos", F.lit(None).cast("bigint"))
            return empty
        out = functools.reduce(
            DataFrame.unionByName,
            [
                self._apply_eq_deletes(self._read_entries(es, need_pos), applicable)
                for es, applicable in self._eq_delete_groups(entries, eq_dels)
            ],
        )
        if pos_dels:
            # merge-on-read: subtract (file, position) pairs recorded by
            # delete snapshots — one anti-join; the delete set is tiny
            # relative to data (it holds deleted row ids only), so at scale
            # AQE broadcasts it
            paths = [os.path.join(self.location, d["path"]) for d in pos_dels]
            dels = self.spark.read.schema(_POS_DELETE_DDL).parquet(*paths)
            out = out.join(dels, ["_del_file", "_del_pos"], "left_anti")
        if need_pos and not with_pos:
            out = out.drop("_del_file", "_del_pos")
        return out

    def _entry_files(self, entry: dict) -> list[str]:
        """Absolute paths of a manifest entry's data files: its recorded
        file list (a CoW rewrite may keep only a SUBSET of a directory's
        files)."""
        return [os.path.join(self.location, f["path"]) for f in entry["files"]]

    def _read_entries(self, entries: list[dict], with_pos: bool) -> DataFrame:
        """Scan manifest entries mapped to the CURRENT schema by field id,
        as ONE parquet relation per written ``schema_id``: all the files of
        the entries sharing a schema go to one ``parquet(*paths)`` read
        with one field-id ``selectExpr``, and only distinct written schemas
        are unioned.  Each extra relation costs its own file index,
        codegen stage and (position deletes are pushed below the union)
        broadcast join, a fixed cost that dominates a small table's read.
        Grouping does not change what a row means: reading file paths
        (never directories) infers no partition columns, and the
        position-delete key is per file.

        The scan is planned from the metadata alone: _write_data_files
        wrote an entry's files in the schema its ``schema_id`` records, so
        that schema is the reader schema and planning never opens a footer
        (no schema-inference job).  ``with_pos`` appends the physical row
        identity (_del_file, _del_pos) from the parquet reader's hidden
        _metadata column — the position-delete key (Iceberg's
        file_path/pos), stable because row_index is defined by the file
        itself, not the scan."""
        by_schema: dict[int, list[str]] = {}
        for e in entries:
            by_schema.setdefault(e["schema_id"], []).extend(self._entry_files(e))
        parts = []
        for schema_id, paths in by_schema.items():
            written_fields = self._schema_by_id(schema_id)
            written = {f.id: f.name for f in written_fields}
            # a field added after these files were written (or re-added
            # under a new field id) is null-filled, exactly like Iceberg
            cols = [
                f"CAST({_q(written[f.id]) if f.id in written else 'NULL'} AS {f.type})"
                f" AS {_q(f.name)}"
                for f in self.current_schema
            ]
            if with_pos:
                # location-RELATIVE file key: the absolute _metadata.file_path
                # URI would bake the table's physical location into delete
                # files, silently resurrecting MoR-deleted rows after a table
                # move (every other manifest path is relative for this reason)
                cols += [
                    "substring(regexp_replace(_metadata.file_path, "
                    f"'^[A-Za-z0-9+.-]+:/+', '/'), {len(self.location) + 2}, {1 << 30})"
                    " AS _del_file",
                    "_metadata.row_index AS _del_pos",
                ]
            reader = self.spark.read.schema(_ddl(written_fields))
            parts.append(reader.parquet(*paths).selectExpr(*cols))
        return functools.reduce(DataFrame.unionByName, parts)

    def _select_snapshot(
        self, snapshot_id: int | None = None, as_of_ms: int | None = None
    ) -> dict | None:
        snaps = self._meta["snapshots"]
        if snapshot_id is not None:
            for s in snaps:
                if s["snapshot_id"] == snapshot_id:
                    return s
            raise KeyError(f"snapshot {snapshot_id} not found")
        if as_of_ms is not None:
            eligible = [s for s in snaps if s["timestamp_ms"] <= as_of_ms]
            if not eligible:
                return None
            return max(eligible, key=lambda s: s["timestamp_ms"])
        sid = self._meta["current_snapshot_id"]
        return self._select_snapshot(sid) if sid is not None else None

    # ------------------------------------------------------------------
    # row-level DML (copy-on-write)
    # ------------------------------------------------------------------

    def _cow_rewrite(
        self,
        condition: Column,
        rewrite,
        operation: str,
        now_ms: int | None = None,
        ranges: dict | None = None,
    ) -> None:
        """FILE-granular copy-on-write: ONE pushdown-backed probe job
        attributes matching rows to their physical files via
        _metadata.file_path; only files that actually CONTAIN matches
        are rewritten — every other file (including unmatched files inside
        a touched directory) survives into the new snapshot by reference.
        This is Iceberg's CoW write path: manifests are file-granular, and
        a DELETE touching 1 of 100 files rewrites 1 file.

        ``ranges`` (the conservative per-column bounds parsed from a string
        predicate) prunes the PROBE with manifest min/max stats before any
        file is opened — plan_files keeps a file unless its partition value
        or recorded bounds PROVE no row can match, so pruning can never
        hide a matching row; an unparseable predicate (ranges=None) probes
        everything.  At 100 TB this is the difference between a
        partition-bounded DELETE probing one day's files and a full-table
        scan (Iceberg prunes its CoW probe from manifests the same way)."""
        snap = self._select_snapshot()
        if snap is None:
            return  # empty table: nothing to do
        probe_snap = snap
        if ranges is not None:
            pruned = self.plan_files(ranges)
            if not pruned:
                return  # bounds prove nothing matches: no new snapshot
            probe_snap = {**snap, "manifest": pruned}
        match = F.coalesce(condition, F.lit(False))
        matched_all = self._matched_files(
            self._scan_snapshot(probe_snap, with_pos=True).filter(match)
        )
        if not matched_all:
            return  # no rows match: no new snapshot (Iceberg does the same)
        kept_entries, touched_subsets = self._split_by_matched_files(snap, matched_all)
        df = self._live_union(snap, touched_subsets)
        sid = self._next_snapshot_id()
        manifest = kept_entries + self._write_data_files(rewrite(df, match), sid)
        deletes = snap.get("delete_manifest", [])
        # carried delete files still mask rows in kept entries; their rows
        # pointing at rewritten (now-unreferenced) files simply never match
        self._commit_snapshot(
            operation, manifest, now_ms, delete_manifest=deletes if kept_entries else []
        )

    def _matched_files(self, matched_rows: DataFrame) -> set[str]:
        """Collect the distinct set of data files containing ``matched_rows``
        (which must carry _del_file) — ONE Spark job for the whole snapshot,
        driver-side output is a manifest-scale file list, never row data.
        At 100k files this is 1 job, not one per manifest entry."""
        return {
            r["_del_file"]  # already location-relative (see _read_entries)
            for r in matched_rows.select("_del_file").distinct().collect()
        }

    def _split_by_matched_files(
        self, snap: dict, matched_all: set[str]
    ) -> tuple[list[dict], list[dict]]:
        """Partition the snapshot's manifest into (kept_entries,
        touched_subsets) around the matched-file set: kept entries survive
        by reference; touched subsets are the file-granular slices that a
        CoW rewrite must read and replace."""
        kept_entries: list[dict] = []
        touched_subsets: list[dict] = []
        for entry in snap["manifest"]:
            if entry["rows"] == 0:
                continue
            files = entry["files"]
            matched_rel = {f["path"] for f in files} & matched_all
            if not matched_rel:
                kept_entries.append(entry)
                continue
            kept_files = [f for f in files if f["path"] not in matched_rel]
            if kept_files:
                kept_entries.append(
                    {
                        **entry,
                        "files": kept_files,
                        "rows": sum(f["rows"] for f in kept_files),
                    }
                )
            sub_files = [f for f in files if f["path"] in matched_rel]
            touched_subsets.append(
                {**entry, "files": sub_files, "rows": sum(f["rows"] for f in sub_files)}
            )
        return kept_entries, touched_subsets

    def _live_union(self, snap: dict, entries: list[dict]) -> DataFrame:
        """The LIVE rows of the given file-granular manifest entries, read
        through _scan_snapshot (one relation per written schema) with
        ``snap``'s position AND equality deletes applied — a CoW rewrite
        over MoR state must not resurrect MoR-deleted rows; a rewritten
        file gets a NEW sequence number, which would silently detach
        outstanding equality deletes from resurrected rows.  Row-identity
        columns are dropped."""
        return self._scan_snapshot({**snap, "manifest": entries}, with_pos=False)

    def _write_delete_files(self, matches: DataFrame, snapshot_id: int) -> list[dict]:
        """Write (_del_file, _del_pos) pairs as a position-delete parquet
        (Iceberg's file_path/pos delete files; _del_file is location-
        relative so the table stays relocatable). Returns [] when no rows
        matched — the caller then skips the commit. Row count comes from
        the written footers (driver-side, no extra Spark job)."""
        import shutil

        rel = f"data/delete-snap-{snapshot_id}-{uuid.uuid4().hex[:8]}"
        path = os.path.join(self.location, rel)
        matches.select("_del_file", "_del_pos").write.mode("errorifexists").parquet(path)
        # rows-only: delete-file column stats are never consulted
        files = self._list_written_files(rel, with_stats=False)
        n_rows = sum(f["rows"] for f in files)
        if n_rows == 0:
            shutil.rmtree(path, ignore_errors=True)
            return []
        return [{"path": rel, "rows": n_rows, "seq": None}]

    def _dml_mode(self, which: str, override: str | None) -> str:
        """'copy-on-write' (default) or 'merge-on-read', from the Iceberg
        table properties write.delete.mode / write.update.mode
        (ref: Pyspark_Notebook.ipynb#cell-18 (json:557), #cell-21 (json:665)
        TBLPROPERTIES write.delete.mode=merge-on-read)."""
        mode = override or self.properties.get(f"write.{which}.mode", "copy-on-write")
        if mode not in ("copy-on-write", "merge-on-read"):
            raise ValueError(f"unknown write.{which}.mode: {mode}")
        return mode

    def delete(
        self,
        condition: Column | str,
        now_ms: int | None = None,
        mode: str | None = None,
    ) -> None:
        """DELETE FROM t WHERE cond (ref: #cell-11).

        copy-on-write (default): file-pruned rewrite — untouched files
        survive by reference, touched files are rewritten without the rows.
        merge-on-read (write.delete.mode property, or mode=): a delete-heavy
        workload never rewrites data files — matched row positions are
        written to a small position-delete file consulted at read time;
        compact() folds the deletes back into data files."""
        cond = F.expr(condition) if isinstance(condition, str) else condition
        if self._dml_mode("delete", mode) == "merge-on-read":
            self._mor_delete(cond, now_ms, ranges=_ranges_from_predicate(condition))
            return
        self._cow_rewrite(
            cond, lambda df, match: df.filter(~match), "delete", now_ms,
            ranges=_ranges_from_predicate(condition),
        )

    def _mor_delete(
        self,
        condition: Column,
        now_ms: int | None = None,
        ranges: dict | None = None,
    ) -> None:
        snap = self._probe_snapshot(ranges)
        if snap is None:
            return
        match = F.coalesce(condition, F.lit(False))
        scan = self._scan_snapshot(snap, with_pos=True)  # live rows only
        sid = self._next_snapshot_id()
        del_entries = self._write_delete_files(scan.filter(match), sid)
        if not del_entries:
            return  # no rows match: no new snapshot
        self._commit_delta(
            "delete", [], del_entries, now_ms, row_level=True,
            predicate_ranges=ranges,
        )

    def delete_by_key(
        self,
        keys: DataFrame,
        columns: list[str] | None = None,
        now_ms: int | None = None,
    ) -> None:
        """EQUALITY-delete files (Iceberg v2's second merge-on-read delete
        flavor): delete every row whose key columns match any row of
        ``keys`` — WITHOUT reading the table.  A position delete costs one
        table scan to locate matched rows; an equality delete just writes
        the key set and is applied at read time to data files with a
        smaller data sequence number, which is what a streaming CDC DELETE
        stream needs (O(batch) per epoch, zero scans).  Rows appended
        AFTER the delete keep living even when their keys match.
        compact() folds equality deletes into data files exactly like
        position deletes."""
        import shutil

        cols = list(columns or keys.columns)
        by_name = {f.name: f for f in self.current_schema}
        missing = [c for c in cols if c not in by_name]
        if missing:
            raise ValueError(f"unknown equality-delete key columns {missing}")
        sid = self._next_snapshot_id()
        rel = f"data/eqdel-snap-{sid}-{uuid.uuid4().hex[:8]}"
        path = os.path.join(self.location, rel)
        keys.select(
            *[F.col(c).cast(by_name[c].type) for c in cols]
        ).distinct().write.mode("errorifexists").parquet(path)
        files = self._list_written_files(rel, with_stats=False)
        n_rows = sum(f["rows"] for f in files)
        if n_rows == 0:
            shutil.rmtree(path, ignore_errors=True)
            return  # empty key set: no new snapshot
        entry = {
            "path": rel,
            "rows": n_rows,
            "eq_cols": cols,  # names at delete time (files use these)
            "eq_field_ids": [by_name[c].id for c in cols],  # rename-proof
            # the schema the key files were written in: their reader schema
            "schema_id": self._meta["current_schema_id"],
            "seq": None,  # stamped at commit time
        }
        ranges = None
        if self._isolation("delete") == "serializable":
            # bound the "predicate" by each key column's min/max so
            # provably-disjoint concurrent appends still rebase.  A column
            # with ANY NULL key value must stay UNCONSTRAINED: equality
            # deletes match null-safely (_apply_eq_deletes eqNullSafe), so
            # a concurrent append's NULL-valued rows are deletable even
            # when the file's (null-ignoring) footer min/max is disjoint
            # from the non-null key range — constraining on min/max alone
            # would rebase over an append a serial re-run of this delete
            # would have emptied.
            aggs = []
            for c in cols:
                aggs += [F.min(c), F.max(c), F.max(F.isnull(c).cast("int"))]
            row = keys.agg(*aggs).first()
            ranges = {}
            for i, c in enumerate(cols):
                lo, hi, has_null = row[3 * i], row[3 * i + 1], row[3 * i + 2]
                if lo is None or has_null:
                    continue  # unconstrained -> conservative (conflicts)
                if hasattr(lo, "isoformat"):
                    lo, hi = lo.isoformat(), hi.isoformat()
                ranges[c] = (lo, hi)
            ranges = ranges or None
        self._commit_delta(
            "delete", [], [entry], now_ms, row_level=True,
            predicate_ranges=ranges,
        )

    def update(
        self,
        assignments: dict[str, Column | str],
        condition: Column | str | None = None,
        now_ms: int | None = None,
        mode: str | None = None,
    ) -> None:
        """UPDATE t SET ... WHERE cond (ref: #cell-19/24); file-pruned CoW
        like delete(), or merge-on-read (write.update.mode): position-delete
        the old rows and append a data file holding only the updated ones."""
        cond = (
            F.expr(condition)
            if isinstance(condition, str)
            else (condition if condition is not None else F.lit(True))
        )
        assigns = {
            col: (F.expr(v) if isinstance(v, str) else v) for col, v in assignments.items()
        }
        out_cols = list(self.columns)

        def rewrite(df: DataFrame, match: Column) -> DataFrame:
            # one select so every RHS and the predicate see ORIGINAL row
            # values (SQL UPDATE semantics), regardless of assignment order
            return df.select(
                *[
                    F.when(match, assigns[c]).otherwise(F.col(c)).alias(c)
                    if c in assigns
                    else F.col(c)
                    for c in out_cols
                ]
            )

        if self._dml_mode("update", mode) == "merge-on-read":
            self._mor_update(
                cond, assigns, now_ms, ranges=_ranges_from_predicate(condition)
            )
            return
        self._cow_rewrite(
            cond, rewrite, "update", now_ms,
            ranges=_ranges_from_predicate(condition),
        )

    def _mor_update(
        self,
        condition: Column,
        assigns: dict[str, Column],
        now_ms: int | None,
        ranges: dict | None = None,
    ) -> None:
        """Merge-on-read UPDATE: position-delete every matched row, append a
        new data file containing only the updated versions. Untouched data
        files are never rewritten."""
        snap = self._probe_snapshot(ranges)
        if snap is None:
            return
        match = F.coalesce(condition, F.lit(False))
        matched = self._scan_snapshot(snap, with_pos=True).filter(match)
        sid = self._next_snapshot_id()
        del_entries = self._write_delete_files(matched, sid)
        if not del_entries:
            return  # no rows match: no new snapshot
        updated = matched.drop("_del_file", "_del_pos").select(
            *[
                assigns[c].alias(c) if c in assigns else F.col(c)
                for c in self.columns
            ]
        )
        data_entries = self._write_data_files(updated, sid)
        self._commit_delta(
            "update", data_entries, del_entries, now_ms, row_level=True,
            predicate_ranges=ranges,
        )

    def merge(
        self,
        source: DataFrame,
        on: str,
        when_matched_update: dict[str, str] | None = None,
        when_not_matched_insert: bool = True,
        when_matched_delete: Column | str | None = None,
        now_ms: int | None = None,
        mode: str | None = None,
    ) -> None:
        """MERGE INTO target USING source ON target.<on> = source.<on>
        (ref: SURVEY.md §2A M3 — configured but never executed in the
        reference; implemented for capability parity).

        Spark-first plan: one semi-join probe locates the data FILES that
        contain matched target rows (manifest-scale collect), then:

        * copy-on-write (default): only those files are rewritten, through
          a full-outer join restricted to their live rows — a MERGE
          touching 1 of 100 files rewrites 1 file, and a pure-insert MERGE
          (no key overlap) degenerates to an append with zero rewrites.
        * merge-on-read (write.merge.mode property, or mode=): matched rows
          are position-deleted and their updated versions appended together
          with the inserts — no data file is ever rewritten; write cost is
          O(matched + inserted) per call, the CDC-upsert shape.
        """
        cols = self.columns
        src = source.select(*cols)
        # SQL-standard MERGE semantics: more than one source row matching a
        # target row is an error (Iceberg raises the same), otherwise the
        # joins below would silently duplicate target rows. NULL-key source
        # rows are excluded: they can never match any target row
        # (NULL = NULL is not true), so they are not duplicates.
        dup = (
            src.filter(F.col(on).isNotNull())
            .groupBy(on)
            .count()
            .filter(F.col("count") > 1)
            .limit(1)
            .collect()
        )
        if dup:
            raise ValueError(
                f"MERGE source has multiple rows for key {on}={dup[0][0]!r}"
            )
        delete_cond = (
            F.expr(when_matched_delete)
            if isinstance(when_matched_delete, str)
            else when_matched_delete
        )
        snap = self._select_snapshot()
        if snap is None:
            # empty table: every source row is an insert (NULL keys included)
            if when_not_matched_insert:
                self._merge_insert_only(src, on, now_ms)
            return
        # prune every scan below with the source keys' min/max bounds
        # (plan_files manifest skipping, same as the UPDATE/DELETE probe):
        # a file whose bounds exclude [min(key), max(key)] can contain no
        # matched row, and its rows can never equal a source key in the
        # insert anti-join either — so the pruned snapshot is
        # merge-equivalent to the full one (NULL-keyed rows in pruned
        # files never participate: ON uses plain equality).
        key_ranges = self._merge_key_ranges(src, on)
        probe_snap = snap
        if key_ranges is not None:
            probe_snap = {**snap, "manifest": self.plan_files(key_ranges)}
        live = self._scan_snapshot(probe_snap, with_pos=True)
        keys = src.select(on).filter(F.col(on).isNotNull()).distinct()
        matched_all = self._matched_files(live.join(keys, on, "left_semi"))
        if not matched_all:
            # no key overlap anywhere: pure-insert MERGE, zero rewrites
            if when_not_matched_insert:
                self._merge_insert_only(src, on, now_ms, ranges=key_ranges)
            return
        if self._dml_mode("merge", mode) == "merge-on-read":
            self._mor_merge(
                probe_snap,
                src,
                on,
                when_matched_update,
                when_not_matched_insert,
                delete_cond,
                now_ms,
                key_ranges=key_ranges,
            )
            return
        # ---- copy-on-write: rewrite ONLY the files containing matches ----
        kept_entries, touched_subsets = self._split_by_matched_files(snap, matched_all)
        target = self._live_union(snap, touched_subsets)
        # Side provenance via non-null marker columns, NOT key nullability:
        # a target row whose merge-key is NULL never joins, and must survive
        # unchanged as a target-only row — keying the matched/target-only
        # tests on t.<on> IS NOT NULL would rewrite it to all-NULLs (or
        # silently delete it when when_not_matched_insert=False).
        t = target.withColumn("_t_exists", F.lit(True)).alias("t")
        s = src.withColumn("_s_exists", F.lit(True)).alias("s")
        joined = t.join(s, F.col(f"t.{on}") == F.col(f"s.{on}"), "full_outer")
        t_exists = F.col("t._t_exists").isNotNull()
        s_exists = F.col("s._s_exists").isNotNull()
        matched = t_exists & s_exists
        out_cols = []
        for c in cols:
            tcol, scol = F.col(f"t.{c}"), F.col(f"s.{c}")
            if when_matched_update and c in when_matched_update:
                upd = F.expr(when_matched_update[c])
            else:
                upd = tcol
            expr = (
                F.when(matched, upd)
                .when(t_exists, tcol)  # target-only row (NULL-key included)
                .otherwise(scol)  # source-only row -> insert
            )
            out_cols.append(expr.alias(c))
        base = joined
        if delete_cond is not None:
            base = base.filter(~(matched & F.coalesce(delete_cond, F.lit(False))))
        if not when_not_matched_insert:
            base = base.filter(t_exists)
        sid = self._next_snapshot_id()
        manifest = kept_entries + self._write_data_files(base.select(*out_cols), sid)
        deletes = snap.get("delete_manifest", [])
        self._commit_snapshot(
            "merge", manifest, now_ms, delete_manifest=deletes if kept_entries else []
        )

    def _merge_key_ranges(self, src: DataFrame, on: str) -> dict | None:
        """Serializable-isolation bounds for a MERGE: the operation's
        "predicate" is key membership in the source set, bounded by the
        source keys' min/max.  NULL source keys never match (ON uses plain
        equality), so they add no constraint; an all-NULL key set returns
        None (= unconstrained, conservative in the conflict direction)."""
        lo, hi = src.agg(F.min(on), F.max(on)).first()
        if lo is None:
            return None
        if hasattr(lo, "isoformat"):  # match footer-stat encoding
            lo, hi = lo.isoformat(), hi.isoformat()
        return {on: (lo, hi)}

    def _merge_insert_only(
        self,
        src: DataFrame,
        on: str,
        now_ms: int | None,
        ranges: dict | None = None,
    ) -> None:
        """Commit a MERGE that degenerated to a pure insert (empty table, or
        no key overlap).  Under snapshot isolation this is a plain
        fast-append.  Under serializable isolation the degenerate path is
        still a MERGE: the 'nothing matches' decision came from READING the
        table, so the commit must conflict with concurrent appends whose
        file bounds could contain a source key (a serial re-run would have
        MATCHED those rows instead of inserting beside them) — committing
        with row_level=True carries the same clashing-append bounds check
        as the non-degenerate paths (conservative: it also conflicts with
        concurrent rewrites/delete files, which cannot change the no-match
        read but are rare next to appends)."""
        if self._isolation("merge") != "serializable":
            self.append(src, now_ms=now_ms, operation="merge")
            return
        sid = self._next_snapshot_id()
        added = self._write_data_files(src, sid)
        self._commit_delta(
            "merge", added, [], now_ms, row_level=True,
            predicate_ranges=(
                ranges if ranges is not None else self._merge_key_ranges(src, on)
            ),
        )

    def _mor_merge(
        self,
        snap: dict,
        src: DataFrame,
        on: str,
        when_matched_update: dict[str, str] | None,
        when_not_matched_insert: bool,
        delete_cond: Column | None,
        now_ms: int | None,
        key_ranges: dict | None = None,
    ) -> None:
        """Merge-on-read MERGE: position-delete every matched row that is
        updated or deleted, append updated versions + inserts as ONE new
        data file set. Existing data files are never rewritten — per-call
        write cost is O(matched + inserted), not O(table).  ``snap`` may
        already be key-bounds-pruned by the caller (merge-equivalent, see
        merge()); ``key_ranges`` forwards the precomputed bounds to the
        serializable commit check."""
        import shutil

        live = self._scan_snapshot(snap, with_pos=True)
        t = live.withColumn("_t_exists", F.lit(True)).alias("t")
        s = src.withColumn("_s_exists", F.lit(True)).alias("s")
        matched = t.join(s, F.col(f"t.{on}") == F.col(f"s.{on}"), "inner")
        sid = self._next_snapshot_id()
        if when_matched_update is None and delete_cond is None:
            # clause-free MERGE: matched rows stay in place — skip the
            # (guaranteed-empty) delete-file write job entirely
            del_entries: list[dict] = []
        else:
            doomed_cond = F.lit(when_matched_update is not None)
            if delete_cond is not None:
                doomed_cond = doomed_cond | F.coalesce(delete_cond, F.lit(False))
            doomed = matched.filter(doomed_cond).select(
                F.col("t._del_file").alias("_del_file"),
                F.col("t._del_pos").alias("_del_pos"),
            )
            del_entries = self._write_delete_files(doomed, sid)
        new_rows: DataFrame | None = None
        if when_matched_update is not None:
            keep = matched
            if delete_cond is not None:
                keep = matched.filter(~F.coalesce(delete_cond, F.lit(False)))
            new_rows = keep.select(
                *[
                    F.expr(when_matched_update[c]).alias(c)
                    if c in when_matched_update
                    else F.col(f"t.{c}").alias(c)
                    for c in self.columns
                ]
            )
        if when_not_matched_insert:
            # anti join keeps NULL-key source rows (NULL never matches) —
            # identical insert semantics to the CoW full-outer path
            inserts = src.join(live.select(on).distinct(), on, "left_anti").select(
                *self.columns
            )
            new_rows = inserts if new_rows is None else new_rows.unionByName(inserts)
        data_entries = (
            self._write_data_files(new_rows, sid) if new_rows is not None else []
        )
        if data_entries and data_entries[0]["rows"] == 0:
            # e.g. every matched row was deleted and nothing inserted
            shutil.rmtree(
                os.path.join(self.location, data_entries[0]["path"]),
                ignore_errors=True,
            )
            data_entries = []
        if not del_entries and not data_entries:
            return  # nothing matched, nothing inserted: no new snapshot
        self._commit_delta(
            "merge", data_entries, del_entries, now_ms, row_level=True,
            predicate_ranges=(
                key_ranges if self._isolation("merge") == "serializable" else None
            ),
        )

    # ------------------------------------------------------------------
    # schema evolution (field-id based — ref: api.py:170-215)
    # ------------------------------------------------------------------

    def _evolve(self, new_fields: list[_Field]) -> None:
        meta = json.loads(json.dumps(self._meta))
        new_id = meta["current_schema_id"] + 1
        meta["schemas"].append(
            {"schema_id": new_id, "fields": [f.to_json() for f in new_fields]}
        )
        meta["current_schema_id"] = new_id
        meta["last_field_id"] = max(
            meta["last_field_id"], max((f.id for f in new_fields), default=0)
        )
        self._commit(meta)

    @property
    def properties(self) -> dict[str, str]:
        return dict(self._meta.get("properties", {}))

    def set_properties(self, props: dict[str, str]) -> None:
        """ALTER TABLE SET TBLPROPERTIES (ref: #cell-18 (json:557))."""
        meta = json.loads(json.dumps(self._meta))
        meta.setdefault("properties", {}).update(props)
        self._commit(meta)

    def add_column(self, name: str, ddl_type: str) -> None:
        """ALTER TABLE ADD COLUMN (ref: api.py:92-102). A re-added name gets
        a NEW field id (ref: iceberg_db/test v8 metadata — id 4 absent)."""
        if name in self.columns:
            raise ValueError(f"column {name} already exists")
        fields = self.current_schema + [
            _Field(id=self._meta["last_field_id"] + 1, name=name, type=ddl_type)
        ]
        self._evolve(fields)

    def drop_column(self, name: str) -> None:
        """ALTER TABLE DROP COLUMN (ref: api.py:120-130)."""
        if name not in self.columns:
            raise ValueError(f"column {name} does not exist")
        self._evolve([f for f in self.current_schema if f.name != name])

    # Iceberg's safe type promotions (spec v2): int->long, float->double,
    # decimal scale-preserving precision widening (not modeled here).
    _WIDENINGS = {("int", "bigint"), ("float", "double")}

    def change_column_type(self, name: str, new_type: str) -> None:
        """ALTER TABLE ALTER COLUMN TYPE — only Iceberg-safe widenings
        (int->bigint, float->double): existing files keep their narrow
        physical type and widen at read time via the per-entry cast."""
        field = next((f for f in self.current_schema if f.name == name), None)
        if field is None:
            raise ValueError(f"column {name} does not exist")
        if field.type != new_type and (field.type, new_type) not in self._WIDENINGS:
            raise ValueError(
                f"unsafe type change {field.type} -> {new_type}; allowed: "
                f"{sorted(self._WIDENINGS)}"
            )
        fields = [
            _Field(id=f.id, name=f.name, type=new_type if f.name == name else f.type)
            for f in self.current_schema
        ]
        self._evolve(fields)

    def rename_column(self, old: str, new: str) -> None:
        """ALTER TABLE RENAME COLUMN (ref: api.py:351-363): same field id,
        new name — historical data files keep working via id mapping."""
        if old not in self.columns:
            raise ValueError(f"column {old} does not exist")
        fields = [
            _Field(id=f.id, name=new if f.name == old else f.name, type=f.type)
            for f in self.current_schema
        ]
        self._evolve(fields)

    def resolve_column(self, name: str) -> str | None:
        """Resolve a (possibly historical) column name to its CURRENT name via
        field ids — the reference's signature operator (ref: api.py:187-204;
        SURVEY.md §2A P4). Searches schema history newest-first so a reused
        name resolves to its most recent binding; returns None if unknown."""
        current = {f.id: f.name for f in self.current_schema}
        if name in current.values():
            return name
        for s in sorted(self._meta["schemas"], key=lambda s: -s["schema_id"]):
            for f in s["fields"]:
                if f["name"] == name and f["id"] in current:
                    return current[f["id"]]
        return None

    def select_by_history(self, *names: str) -> DataFrame:
        """Project columns referenced by ANY historical name (ref: the
        GET /<table>/<column> endpoint surviving renames, api.py:170-215)."""
        resolved = []
        for n in names:
            r = self.resolve_column(n)
            if r is None:
                raise KeyError(f"column {n} not found in any schema version")
            resolved.append(r)
        return self.read().select(*resolved)

    # ------------------------------------------------------------------
    # metadata tables (ref: SURVEY.md §2A T3-T6)
    # ------------------------------------------------------------------

    # Each metadata table has one row builder (plain dicts in column order,
    # built from the metadata JSON alone) and one DataFrame wrapper; the
    # HTTP edge serializes the rows directly, without a Spark round trip.

    def _metadata_frame(self, rows: list[dict], schema: str) -> DataFrame:
        return self.spark.createDataFrame([tuple(r.values()) for r in rows], schema)

    def snapshot_rows(self) -> list[dict]:
        return [
            {
                "snapshot_id": s["snapshot_id"],
                "parent_id": s["parent_id"],
                "timestamp_ms": s["timestamp_ms"],
                "operation": s["operation"],
                "total_records": s["summary"]["total-records"],
                "summary": {k: str(v) for k, v in s["summary"].items()},
            }
            for s in self._meta["snapshots"]
        ]

    def snapshots(self) -> DataFrame:
        return self._metadata_frame(
            self.snapshot_rows(),
            "snapshot_id BIGINT, parent_id BIGINT, timestamp_ms BIGINT, "
            "operation STRING, total_records BIGINT, summary MAP<STRING,STRING>",
        )

    def history_rows(self) -> list[dict]:
        ancestors = set()
        by_id = {s["snapshot_id"]: s for s in self._meta["snapshots"]}
        sid = self._meta["current_snapshot_id"]
        while sid is not None and sid in by_id:
            ancestors.add(sid)
            sid = by_id[sid]["parent_id"]  # chain may end at an EXPIRED parent
        return [
            {
                "made_current_at": s["timestamp_ms"],
                "snapshot_id": s["snapshot_id"],
                "parent_id": s["parent_id"],
                "is_current_ancestor": s["snapshot_id"] in ancestors,
            }
            for s in self._meta["snapshots"]
        ]

    def history(self) -> DataFrame:
        return self._metadata_frame(
            self.history_rows(),
            "made_current_at BIGINT, snapshot_id BIGINT, parent_id BIGINT, "
            "is_current_ancestor BOOLEAN",
        )

    def metadata_log_entries(self) -> DataFrame:
        rows = [
            (e["version"], e["file"], e["timestamp_ms"])
            for e in self._meta.get("metadata_log", [])
        ] + [(self._meta["version"], f"v{self._meta['version']}.metadata.json", self._meta["timestamp_ms"])]
        return self.spark.createDataFrame(
            rows, "version INT, file STRING, timestamp_ms BIGINT"
        )

    def ref_rows(self) -> list[dict]:
        return [
            {"name": name, "type": r.get("type", "branch"), "snapshot_id": r["snapshot_id"]}
            for name, r in self._meta["refs"].items()
        ]

    def refs(self) -> DataFrame:
        return self._metadata_frame(
            self.ref_rows(), "name STRING, type STRING, snapshot_id BIGINT"
        )

    def create_ref(self, name: str, ref_type: str = "tag", snapshot_id: int | None = None) -> None:
        """Create a named branch/tag pointing at a snapshot (ref: #cell-44
        .refs metadata table)."""
        sid = snapshot_id if snapshot_id is not None else self._meta["current_snapshot_id"]
        if sid is None:
            raise ValueError("table has no snapshots to reference")
        self._select_snapshot(sid)  # validates existence
        meta = json.loads(json.dumps(self._meta))
        meta.setdefault("refs", {})[name] = {"snapshot_id": sid, "type": ref_type}
        self._commit(meta)

    def read_ref(self, name: str) -> DataFrame:
        """Scan the snapshot a branch/tag points at."""
        ref = self._meta["refs"].get(name)
        if ref is None:
            raise KeyError(f"ref {name} does not exist")
        return self.read(snapshot_id=ref["snapshot_id"])

    # ------------------------------------------------------------------
    # table maintenance (the 100 TB operational story: Iceberg's
    # rewrite_data_files / expire_snapshots as engine-native methods)
    # ------------------------------------------------------------------

    @staticmethod
    def _zvalue(cols: list[str], nbits: int = 16) -> Column:
        """Morton z-value: interleave the low ``nbits`` bits of each column
        (bigint-cast). Rows close in EVERY dimension get close z-values, so
        range-partitioning by z gives each file a tight bounding box in all
        zorder columns at once — footer min/max then prunes on ANY of them."""
        from functools import reduce as _reduce

        terms = []
        for i in range(nbits):
            for j, c in enumerate(cols):
                bit = F.shiftright(F.col(c).cast("bigint"), i).bitwiseAND(F.lit(1))
                terms.append(F.shiftleft(bit, i * len(cols) + j))
        return _reduce(lambda a, b: a + b, terms)

    def compact(
        self,
        target_partitions: int | None = None,
        now_ms: int | None = None,
        zorder_by: list[str] | None = None,
    ) -> None:
        """Bin-pack the current snapshot's data files into ``target_partitions``
        well-sized files (Iceberg's rewrite_data_files). Logically a no-op:
        same rows, new layout, new 'replace' snapshot — historical snapshots
        keep their old files for time travel.

        ``zorder_by`` selects the z-order rewrite strategy (Iceberg's
        rewrite_data_files sort strategy with a zorder sort expression):
        rows are range-partitioned AND internally sorted by the interleaved
        Morton value of the given integer columns, so selective predicates
        on ANY of those columns skip files via the recorded min/max bounds
        — the multi-column locality a single-column sort cannot give."""
        df = self.read()
        if zorder_by:
            z = self._zvalue(zorder_by)
            df = df.repartitionByRange(target_partitions or 8, z)
            df = df.sortWithinPartitions(z)
        elif target_partitions:
            df = df.repartition(target_partitions)
        sid = self._next_snapshot_id()
        added = self._write_data_files(df, sid)
        # maintenance commits rebase across concurrent appends instead of
        # failing like a CoW rewrite — see _commit_replace
        self._commit_replace(added, now_ms)

    def expire_snapshots(self, keep_last: int = 1) -> list[int]:
        """Drop all but the newest ``keep_last`` snapshots and delete data
        directories no surviving snapshot references (Iceberg's
        expire_snapshots). Returns the expired snapshot ids."""
        import shutil

        snaps = self._meta["snapshots"]
        if len(snaps) <= keep_last:
            return []

        def paths_of(s: dict) -> set[str]:
            return {e["path"] for e in s["manifest"]} | {
                d["path"] for d in s.get("delete_manifest", [])
            }

        keep = snaps[-keep_last:]
        expired = snaps[:-keep_last]
        live_paths = {p for s in keep for p in paths_of(s)}
        # named refs pin their snapshots' files too
        by_id = {s["snapshot_id"]: s for s in snaps}
        kept_ids = {s["snapshot_id"] for s in keep}
        for ref in self._meta.get("refs", {}).values():
            snap = by_id.get(ref["snapshot_id"])
            if snap is not None and ref["snapshot_id"] not in kept_ids:
                keep = [snap] + keep
                kept_ids.add(ref["snapshot_id"])
                live_paths |= paths_of(snap)
        expired = [s for s in snaps if s["snapshot_id"] not in kept_ids]
        dead_paths = {p for s in expired for p in paths_of(s)} - live_paths
        meta = json.loads(json.dumps(self._meta))
        meta["snapshots"] = [s for s in snaps if s["snapshot_id"] in kept_ids]
        self._commit(meta)
        for rel in sorted(dead_paths):
            shutil.rmtree(os.path.join(self.location, rel), ignore_errors=True)
        return sorted(s["snapshot_id"] for s in expired)

    def remove_orphan_files(
        self, older_than_ms: int = 3 * 24 * 3600 * 1000
    ) -> list[str]:
        """Delete data directories no snapshot references (Iceberg's
        remove_orphan_files): failed/partial writes and dirs left behind by
        external tools. Never touches referenced data.

        ``older_than_ms`` (default 3 days, Iceberg's default cutoff) skips
        directories younger than the threshold: data files are INTENTIONALLY
        written before the metadata lock is taken, so a concurrent writer
        between _write_data_files and _commit has an unreferenced-but-live
        directory — deleting it would let the commit succeed while its
        manifest points at missing files (permanent data loss). Pass 0 only
        when no concurrent writer can exist (tests, single-writer repair)."""
        import shutil
        import time as _time

        live = {
            e["path"]
            for s in self._meta["snapshots"]
            for e in s["manifest"] + s.get("delete_manifest", [])
        }
        cutoff = _time.time() * 1000 - older_than_ms
        data_dir = os.path.join(self.location, "data")
        removed = []
        for d in sorted(os.listdir(data_dir)):
            rel = f"data/{d}"
            full = os.path.join(data_dir, d)
            if rel in live:
                continue
            try:
                if os.path.getmtime(full) * 1000 > cutoff:
                    continue  # too young: possibly a commit in flight
            except OSError:
                continue
            shutil.rmtree(full, ignore_errors=True)
            removed.append(rel)
        return removed

    # ------------------------------------------------------------------
    # changelog (ref: SURVEY.md §2A T7 create_changelog_view)
    # ------------------------------------------------------------------

    def changelog(
        self,
        from_snapshot: int | None = None,
        to_snapshot: int | None = None,
        key: str | None = None,
    ) -> DataFrame:
        """Row-level diff between two snapshots, tagged with _change_type.

        Without ``key``: {'INSERT','DELETE'} — an UPDATE appears as
        DELETE+INSERT, matching Iceberg's changelog view for copy-on-write
        tables (the reference only ever filters `_change_type != 'Delete'`,
        #cell-34 (json:1031)).

        With ``key`` (Iceberg's identifier-field semantics): a key present
        on BOTH sides of the diff is an in-place row change — its DELETE
        row is retagged UPDATE_BEFORE and its INSERT row UPDATE_AFTER, the
        pre/post images an MoR update's position-delete + append pair
        produces. The key probe is two extra semi-joins on a (small) diff,
        not a table scan."""
        before = (
            self.read(snapshot_id=from_snapshot)
            if from_snapshot is not None
            else self.spark.createDataFrame([], self.spark_schema())
        )
        after = self.read(snapshot_id=to_snapshot)  # None -> current
        inserts = after.exceptAll(before)
        deletes = before.exceptAll(after)
        if key is None:
            return inserts.withColumn("_change_type", F.lit("INSERT")).unionByName(
                deletes.withColumn("_change_type", F.lit("DELETE"))
            )
        upd_keys = deletes.select(key).intersect(inserts.select(key))
        # semi/anti split per side keeps the plan simple and broadcastable
        ins_upd = inserts.join(F.broadcast(upd_keys), key, "left_semi").withColumn(
            "_change_type", F.lit("UPDATE_AFTER")
        )
        ins_new = inserts.join(F.broadcast(upd_keys), key, "left_anti").withColumn(
            "_change_type", F.lit("INSERT")
        )
        del_upd = deletes.join(F.broadcast(upd_keys), key, "left_semi").withColumn(
            "_change_type", F.lit("UPDATE_BEFORE")
        )
        del_gone = deletes.join(F.broadcast(upd_keys), key, "left_anti").withColumn(
            "_change_type", F.lit("DELETE")
        )
        return ins_upd.unionByName(ins_new).unionByName(del_upd).unionByName(del_gone)


def _now_ms() -> int:
    return int(time.time() * 1000)

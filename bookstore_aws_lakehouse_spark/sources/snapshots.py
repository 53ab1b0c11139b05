"""Manifest-versioned parquet tables: the in-repo stand-in for a lakehouse
table format (Delta/Iceberg), built from nothing but parquet + a JSON
commit log — because this sandbox verifiably ships no delta/iceberg
runtime (no python module, no jars, offline package fetch; NOTES_r7).

Layout (the manifest log — listing, reads, atomic publish, commit
composition and stats pruning — lives in ``sources/tablelog.py``, the
format core ``format("lakesnap")`` shares: local tables are handled with
plain ``os`` calls there, and only remote schemes such as ``hdfs://`` or
``s3a://`` go through the Hadoop FileSystem API; data files are written,
listed and deleted through Spark and Hadoop FS):

    <table>/
      data/tx-<uuid>/part-*.parquet     -- immutable data files, one dir per commit
      _manifests/v<N>.json              -- commit N: file list + schema + op metadata

Semantics this buys over bare parquet directories (and over the
staging-swap ``upsert_parquet``):

- **Snapshot isolation**: a reader pins one manifest; writers never delete
  or rewrite a committed data file, so concurrent reads see a consistent
  version even while a MERGE commits. (The staging-swap upsert deletes the
  files a concurrent reader's plan references.)
- **Time travel**: every version stays readable until ``vacuum``.
- **Atomic commit with conflict detection**: a manifest claims
  ``v<N>.json`` by an exclusive, atomic publish (``tablelog.publish``:
  temp file + ``link(2)``). State-independent commits (overwrite) retry
  at the next free number; state-DEPENDENT commits (append/merge) claim
  exactly the version they composed against +1 and on a race re-read the
  tip and recompute (append recomposes the manifest; merges re-run against the
  new snapshot and delete their orphaned files) — the Delta
  optimistic-concurrency contract. Partitioned merges additionally
  resolve conflict CLASSES: a merge provably disjoint from every racing
  commit (the racers kept all files this merge rewrote, and every file
  they added is stats-excluded from this merge's partition values)
  REBASES its already-written files onto the new tip without recomputing
  the merge — only overlapping writers pay the recompute
  (``_try_rebase_partitioned``).
- **Logical operations**: append = old files ∪ new files; overwrite = new
  files only; merge = anti-join rewrite committed as a full new file set.

Scale shape: a commit writes only its delta's data files plus one small
JSON manifest; readers do ONE metadata read (the latest manifest) and then
a plain multi-path parquet scan — Catalyst sees an ordinary FileSourceScan
with pushdown/pruning intact. The manifest grows with file count per
snapshot, exactly like Delta's checkpointed log; at 100 TB one would add
manifest compaction, which ``vacuum`` already approximates by dropping
expired versions.

Reference parity: the reference's mart is overwrite-loaded CSV folders on
S3 (`workflow/Loader.py:2-3`); this module is the §1.5-mapped lakehouse
upgrade of that sink.
"""

from __future__ import annotations

import json
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from bookstore_aws_lakehouse_spark.sources import tablelog
from bookstore_aws_lakehouse_spark.sources.tablelog import (  # noqa: F401
    MAX_COMMIT_RETRIES as _MAX_COMMIT_RETRIES,
    _stat_norm,
)

_MANIFEST_DIR = tablelog.MANIFEST_DIR
_DATA_DIR = "data"
#: deletion-vector sidecars: (file, pos) parquet under <table>/_dv/tx-*/
_DV_DIR = "_dv"


def _fs(spark: SparkSession, path: str):
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    return hpath.getFileSystem(spark._jsc.hadoopConfiguration()), hpath, jvm


def _list_parquet_files(spark: SparkSession, directory: str) -> list[str]:
    """Part-file paths (absolute URIs) under one commit's tx dir."""
    fs, hpath, _ = _fs(spark, directory)
    out = []
    for st in fs.listStatus(hpath):
        name = st.getPath().getName()
        if name.endswith(".parquet") or name.startswith("part-"):
            if not name.startswith("_") and not name.endswith(".crc"):
                out.append(st.getPath().toString())
    return sorted(out)


def list_versions(spark: SparkSession, table: str) -> list[int]:
    return tablelog.list_versions(table, spark)


def _read_manifest(spark: SparkSession, table: str, version: int) -> dict:
    return tablelog.read_manifest(table, version, spark)


class SnapshotConflictError(RuntimeError):
    """A state-dependent commit (append/merge) found its base version
    superseded — the caller must re-read the table and recompute. Blindly
    taking the next free number there would LOSE the racing writer's
    changes (the manifest was composed against stale state)."""


def _claim_version(spark: SparkSession, table: str, manifest: dict, v: int) -> bool:
    """Atomically claim AND publish ``v<v>.json``; False if the version
    already exists (lost the race). See ``tablelog.publish``."""
    return tablelog.claim_version(table, manifest, v, spark)


def _try_commit(
    spark: SparkSession, table: str, manifest: dict, expected_version: int
) -> int:
    """Commit a state-DEPENDENT manifest (composed against the snapshot
    at ``expected_version - 1``): claim EXACTLY that version; if a racing
    writer took it, raise :class:`SnapshotConflictError` so the caller
    re-reads and recomputes instead of silently dropping the racer's
    files — the same optimistic-concurrency contract Delta's commit
    protocol enforces. State-INDEPENDENT commits go through
    ``tablelog.commit_next``."""
    if _claim_version(spark, table, manifest, expected_version):
        return expected_version
    raise SnapshotConflictError(
        f"version {expected_version} on {table} was taken by a "
        f"concurrent writer; re-read and retry the operation"
    )


def _delete_files(spark: SparkSession, files: list[str]) -> None:
    """Remove orphaned data files from an aborted commit attempt — they
    are referenced by no manifest, so vacuum would never reclaim them."""
    if not files:
        return
    fs, _, jvm = _fs(spark, files[0])
    for f in files:
        fs.delete(jvm.org.apache.hadoop.fs.Path(f), False)


def _write_data_files(
    df: DataFrame,
    table: str,
    subdir: str = _DATA_DIR,
    schema_replacing: bool = False,
    tip_manifest: dict | None = None,
) -> list[str]:
    """Write ``df`` as an immutable commit directory; returns its files.
    Zero-row part files (empty shuffle buckets under an explicit
    repartition) are deleted and excluded — they carry no data but would
    otherwise ride every future manifest as permanently-carried files."""
    spark = df.sparkSession
    if subdir == _DATA_DIR:
        # column mapping: files store physical names (frozen at column
        # birth); a never-renamed column's physical IS its logical name.
        # Callers that already hold the tip manifest pass it and save a
        # metadata read per commit.
        if tip_manifest is not None:
            mapping = tip_manifest.get("column_mapping") or {}
            retired = tip_manifest.get("retired_physical") or []
        else:
            mapping, retired = _tip_column_mapping(spark, table)
        # a NEW column (absent from the mapping) must not collide with a
        # retired physical name (would resurrect dropped data) NOR with
        # the in-use physical name of a RENAMED column (its physical
        # schema would gain a duplicate field and the table tip would
        # become unreadable)
        # an OVERWRITE replaces the whole schema and every file, so a
        # column re-using a renamed column's physical name is fine WHEN
        # the mapped column is gone from the committed schema — but if
        # the overwrite df carries BOTH the renamed logical column and a
        # new column equal to its frozen physical name, the rename below
        # would manufacture duplicate physical fields and the parquet
        # write fails opaquely; refuse that sub-case up front. Appends/
        # merges carry old files and must refuse every collision.
        other_phys = (
            {p for l, p in mapping.items() if l != p and l in df.columns}
            if schema_replacing
            else {p for l, p in mapping.items() if l != p}
        )
        clash = [
            c
            for c in df.columns
            if c not in mapping and (c in set(retired) or c in other_phys)
        ]
        if clash:
            raise ValueError(
                f"column name(s) {clash} collide with physical column names "
                f"of {table}'s data files (a dropped column's retired name, "
                f"or a renamed column's frozen physical name) — pick a "
                f"different logical name"
            )
        renames = {
            l: p for l, p in mapping.items() if l != p and l in df.columns
        }
        if renames:
            df = df.withColumnsRenamed(renames)
    tx_dir = f"{table.rstrip('/')}/{subdir}/tx-{uuid.uuid4().hex[:12]}"
    # timestamps as INT64 micros, not Spark's legacy INT96: INT96 column
    # chunks carry NO parquet min/max statistics, so every temporal
    # column would silently lose file-level pruning (stats collection
    # skips it and scans degrade to conservative full reads). INT64 is
    # what Delta/Iceberg write; pyarrow reads it back as timestamp[us].
    # Scoped to THIS write (save + restore): a bare conf.set would
    # permanently override a user's explicit INT96 choice for every
    # subsequent non-snapshot write in the session (ADVICE r9).
    _TS_KEY = "spark.sql.parquet.outputTimestampType"
    prev_ts = spark.conf.get(_TS_KEY, None)
    spark.conf.set(_TS_KEY, "TIMESTAMP_MICROS")
    try:
        df.write.mode("error").parquet(tx_dir)
    finally:
        if prev_ts is None:
            spark.conf.unset(_TS_KEY)
        else:
            spark.conf.set(_TS_KEY, prev_ts)
    files = _list_parquet_files(spark, tx_dir)
    try:
        import pyarrow.parquet as pq
    except ImportError:
        return files
    kept = []
    fs = None
    for uri in files:
        path = tablelog.local_path(uri)
        if path is None:  # remote: can't cheaply check, keep
            kept.append(uri)
            continue
        try:
            empty = pq.ParquetFile(path).metadata.num_rows == 0
        except OSError:
            kept.append(uri)
            continue
        if empty:
            if fs is None:
                fs, _, jvm = _fs(spark, uri)
            fs.delete(jvm.org.apache.hadoop.fs.Path(uri), False)
        else:
            kept.append(uri)
    return kept


class SnapshotConstraintError(ValueError):
    """A data-adding commit violated one of the table's CHECK constraints
    (``snapshot_add_constraint``). The commit was rejected and its data
    files reclaimed — the table is unchanged."""


def _tip_constraints(spark: SparkSession, table: str) -> dict[str, str]:
    """The table's active constraints as of the current tip (empty for a
    new or unconstrained table)."""
    return tablelog.tip(table, spark)[1].get("constraints") or {}


def _validate_constraints(df: DataFrame, constraints: dict[str, str]) -> None:
    """SQL CHECK semantics: a row violates a constraint only when the
    expression evaluates to FALSE (NULL passes, as in the standard and in
    Delta). One count job over the DELTA — O(commit), never the table."""
    from pyspark.sql import functions as F

    for name, expr in constraints.items():
        n_bad = df.filter(~F.coalesce(F.expr(expr), F.lit(True))).count()
        if n_bad:
            raise SnapshotConstraintError(
                f"constraint {name!r} ({expr}) violated by {n_bad} row(s) "
                f"in this commit's data"
            )


# MANIFEST FACT KEYS: every commit path builds its manifest with
# ``tablelog.compose``, which carries each key from the tip (the rules are
# listed there). Only op-specific keys are added by hand after it:
# snapshot_restore (restored_from), snapshot_clone (cloned_from; drops
# txn — a fork is a new writer identity), snapshot_rename_column
# (renamed) and snapshot_drop_column (dropped, plus the retired name).


def _commit(
    df: DataFrame,
    table: str,
    operation: str,
    files: list[str],
    file_stats: dict | None = None,
    expected_version: int | None = None,
    schema: "StructType | None" = None,
    file_blooms: dict | None = None,
    constraints: dict | None = None,
    app: dict | None = None,
    dv: dict | None = None,
    txn: tuple[str, int] | None = None,
    column_mapping: dict | None = None,
    constraints_validated: dict | None = None,
) -> int:
    """Compose ``files`` into the next manifest (``tablelog.compose``:
    facts left None inherit from the tip) and claim it — exactly
    ``expected_version`` for a state-dependent commit, else the next
    free version.

    ``column_mapping``: explicit logical→physical map describing how
    THIS commit's files store their columns (a per-file fact, like
    stats). Schema-replacing commits pass the mapping their files were
    actually written with — inheriting the claim-time tip's instead
    would let a racing rename land a mapping the files don't satisfy
    (logical names resolving to physical columns the parquet lacks).
    ``constraints_validated``: the constraint set the caller validated
    ``df`` against; when the inherited tip constraints differ (a racing
    ADD CONSTRAINT), the commit re-validates before claiming so no
    unchecked rows ride in."""
    spark = df.sparkSession
    committed_schema = json.loads((schema or df.schema).json())

    def build(tip_m: dict) -> dict:
        inherited = tip_m.get("constraints") or {}
        if (
            constraints is None
            and constraints_validated is not None
            and inherited != constraints_validated
        ):
            # a racer's ADD/DROP CONSTRAINT landed after the caller
            # validated df — the inherited set binds this commit, so
            # re-check before claiming (raises on violation; the
            # caller's except path reclaims its files)
            _validate_constraints(df, inherited)
        return tablelog.compose(
            tip_m,
            operation,
            files,
            committed_schema,
            file_stats=file_stats,
            file_blooms=file_blooms,
            constraints=constraints,
            dv=dv,
            txn=dict([txn]) if txn is not None else None,
            column_mapping=column_mapping,
            app=app,
        )

    if expected_version is not None:
        # state-DEPENDENT: claim exactly the caller's version; a race
        # raises SnapshotConflictError for the caller to recompute
        manifest = build(tablelog.tip(table, spark)[1])
        return _try_commit(spark, table, manifest, expected_version)
    # state-INDEPENDENT (overwrite-style): content needs no recompute on
    # a race, but the inherited table facts do — each retry re-composes
    # against the new tip
    return tablelog.commit_next(
        table,
        build,
        spark,
        claim=lambda manifest, v: _claim_version(spark, table, manifest, v),
    )


def _collect_file_stats(
    files: list[str], columns: list[str], mapping: dict | None = None
) -> dict | None:
    """Iceberg-style per-file column stats from parquet footers:
    ``{file: {col: [min, max, has_null]}}``, aggregated across row groups
    via pyarrow (metadata-only reads — no data I/O). A column without
    usable stats in some file is simply absent from that file's entry —
    readers treat absence conservatively (file may match anything).
    Returns None when any file is non-local (can't stat cheaply);
    callers then skip stats entirely. ``columns`` and the returned keys
    are LOGICAL names; ``mapping`` translates to the physical names the
    footers carry (column-mapped tables)."""
    try:
        import pyarrow.parquet as pq
    except ImportError:
        return None
    out: dict = {}
    for uri in files:
        path = tablelog.local_path(uri)
        if path is None:
            return None
        try:
            meta = pq.ParquetFile(path).metadata
        except OSError:
            return None
        idx = {meta.schema.column(i).name: i for i in range(meta.num_columns)}
        per_col: dict = {}
        for logical in columns:
            column = (mapping or {}).get(logical, logical)
            if column not in idx:
                continue
            lo = hi = None
            has_null = False
            usable = True
            for rg in range(meta.num_row_groups):
                st = meta.row_group(rg).column(idx[column]).statistics
                if st is None or not st.has_min_max:
                    usable = False
                    break
                has_null = has_null or bool(st.null_count)
                try:
                    lo = st.min if lo is None else min(lo, st.min)
                    hi = st.max if hi is None else max(hi, st.max)
                except Exception:
                    # pyarrow can't decode min/max for every physical type
                    # (ArrowNotImplementedError, e.g. an all-NULL column
                    # stored as typeless) — skip the column conservatively
                    # (absent stats = file may match anything) instead of
                    # failing the whole commit
                    usable = False
                    break
            if not usable:
                continue
            lo, hi = _stat_norm(lo), _stat_norm(hi)
            if lo is not None and not isinstance(lo, (str, int, float, bool)):
                continue  # not JSON-portable (binary etc.): skip this col
            per_col[logical] = [lo, hi, has_null]
        out[uri] = per_col
    return out


# ---- column mapping: metadata-only RENAME / DROP COLUMN -------------------
#
# Delta's column-mapping (name mode) rebuilt on the manifest: every data
# file stores PHYSICAL column names, the manifest schema stores LOGICAL
# names, and ``column_mapping`` ({logical: physical}) bridges them. A
# table starts unmapped (physical == logical, no key); the first RENAME
# seeds the mapping with identity entries and then renames ONLY the
# logical side — the physical name is frozen at column birth, so a
# rename touches one JSON manifest however many exabytes the files hold.
# DROP removes the logical field and retires its physical name
# (``retired_physical``) so a later column with the same logical name
# can never resurrect the old bytes. All other manifest metadata
# (file_stats, file_blooms, constraints) stays in the LOGICAL namespace
# — the rename op rewrites those keys in its one manifest write — so
# every pruning/lookup path reads it unchanged; only the file I/O
# boundary translates: ``_write_data_files`` renames logical→physical
# before the write, ``_read_data_files`` reads the physical schema and
# renames back.


def _tip_column_mapping(spark: SparkSession, table: str) -> tuple[dict, list]:
    """(column_mapping, retired_physical) at the tip; ({}, []) for a new
    or never-renamed table."""
    try:
        m = tablelog.tip(table, spark)[1]
    except Exception:
        return {}, []
    return m.get("column_mapping") or {}, m.get("retired_physical") or []


def _physical_schema(schema: StructType, mapping: dict) -> StructType:
    if not mapping:
        return schema
    return StructType(
        [
            StructField(
                mapping.get(f.name, f.name), f.dataType, f.nullable, f.metadata
            )
            for f in schema.fields
        ]
    )


def snapshot_detail(spark: SparkSession, table: str) -> DataFrame:
    """``DESCRIBE DETAIL`` — one row of table facts from metadata alone
    (no data I/O, no Spark job for the file stats): version, operation,
    file count and total bytes, dead-row count and sidecar count
    (deletion vectors), active constraint / bloom-index / column-mapping
    presence, and the commit timestamp. The at-a-glance health check an
    operator runs before deciding on OPTIMIZE / purge / vacuum."""
    versions = list_versions(spark, table)
    v, m = tablelog.pin(table, spark=spark)
    fs, _, jvm = _fs(spark, table)
    size = 0
    for f in m["files"]:
        try:
            size += fs.getFileStatus(jvm.org.apache.hadoop.fs.Path(f)).getLen()
        except Exception:
            size = -1
            break
    dv = m.get("dv") or {}
    row = {
        "version": v,
        "num_versions": len(versions),
        "operation": m.get("operation"),
        "num_files": len(m["files"]),
        "size_bytes": size,
        "num_deleted_rows": sum((dv.get("cardinality") or {}).values()),
        "num_dv_sidecars": len(dv.get("sidecars") or []),
        "num_constraints": len(m.get("constraints") or {}),
        "num_stats_files": len(m.get("file_stats") or {}),
        "num_bloom_files": len(m.get("file_blooms") or {}),
        "column_mapped": bool(m.get("column_mapping")),
        "committed_at_unix": float(m.get("committed_at_unix") or 0.0),
    }
    return spark.createDataFrame(
        [tuple(row.values())],
        ", ".join(
            f"{k} {'string' if k == 'operation' else 'boolean' if k == 'column_mapped' else 'double' if k == 'committed_at_unix' else 'bigint'}"
            for k in row
        ),
    )


def snapshot_convert(
    spark: SparkSession,
    directory: str,
    stats_cols: list[str] | None = None,
) -> int:
    """``CONVERT TO DELTA`` analog: turn an EXISTING parquet directory
    into a snapshot table IN PLACE — v1's manifest references the
    directory's current files where they already sit; not one data byte
    is read or copied (stats, if requested, are footer-only reads). The
    100 TB migration path: a plain parquet lake becomes ACID/time-
    travel/DV-capable in O(files) metadata work. After conversion the
    directory IS the table root: subsequent commits write under
    ``data/tx-*`` beside the original files, and vacuum's ownership
    guard covers both (everything lives under the root). The schema is
    taken from the files (one Spark schema inference over the file
    list); refuses a directory already holding a commit log."""
    files = _list_parquet_files(spark, directory)
    if not files:
        raise FileNotFoundError(f"no parquet files under {directory}")
    try:
        if list_versions(spark, directory):
            raise ValueError(
                f"{directory} is already a snapshot table — CONVERT is for "
                f"plain parquet directories"
            )
    except FileNotFoundError:
        pass
    df = spark.read.parquet(*files)
    stats = _collect_file_stats(files, stats_cols) if stats_cols else None
    return _commit(df, directory, "convert", files, stats, expected_version=1)


def snapshot_overwrite(
    df: DataFrame,
    table: str,
    stats_cols: list[str] | None = None,
    app: dict | None = None,
    txn_app_id: str | None = None,
    txn_version: int | None = None,
) -> int:
    """Logical overwrite: the new version references ONLY this commit's
    files. Prior versions (and their files) remain readable — time travel
    — until ``vacuum``. Returns the committed version.

    ``stats_cols`` records per-file footer stats for those columns in the
    manifest, enabling ``snapshot_scan`` whole-file skipping — pair with
    a clustered/z-ordered layout (``write_parquet_clustered`` /
    ``write_parquet_zordered`` shapes applied to ``df`` BEFORE the call,
    e.g. ``df.repartitionByRange(n, col).sortWithinPartitions(col)``) so
    the recorded ranges are actually tight."""
    spark = df.sparkSession
    if (txn_app_id is None) != (txn_version is None):
        raise ValueError("txn_app_id and txn_version must be set together")
    v_pre, tip_pre = tablelog.tip(table, spark)
    if txn_app_id is not None:
        # idempotent writer protocol, same contract as snapshot_append:
        # an already-applied (app, version) no-ops before writing a byte
        seen = tip_pre.get("txn") or {}
        if v_pre and int(seen.get(txn_app_id, -1)) >= int(txn_version):
            return v_pre
    cons_seen = tip_pre.get("constraints") or {}
    _validate_constraints(df, cons_seen)
    mapping = tip_pre.get("column_mapping") or {}
    files = _write_data_files(
        df, table, schema_replacing=True, tip_manifest=tip_pre
    )
    stats = (
        _collect_file_stats(files, stats_cols, mapping) if stats_cols else None
    )
    try:
        return _commit(
            df,
            table,
            "overwrite",
            files,
            stats,
            app=app,
            txn=(txn_app_id, int(txn_version))
            if txn_app_id is not None
            else None,
            # the mapping these files were WRITTEN with (restricted to the
            # committed schema): a racing rename landing between the write
            # and the claim must not install a mapping the parquet files
            # don't satisfy — overwrite replaces the whole schema, so the
            # racer's rename is superseded, not half-applied
            column_mapping={l: p for l, p in mapping.items() if l in df.columns},
            constraints_validated=cons_seen,
        )
    except SnapshotConstraintError:
        # a racing ADD CONSTRAINT rejected this content mid-commit: the
        # files are referenced by no manifest — reclaim them
        _delete_files(spark, files)
        raise


def _merged_append_schema(
    prev_schema: StructType, new_schema: StructType, merge_schema: bool
) -> StructType:
    """Schema-evolution contract for append (the ``mergeSchema`` analog):
    fields present in both MUST keep their dataType (nullability is not
    compared — parquet round-trips flip it); with ``merge_schema`` the
    committed schema is prev's fields followed by the delta's new fields
    (added nullable — historic files read back NULL for them, the
    standard ADD COLUMN semantics); without it any difference raises, so
    a producer with a drifted schema can't silently narrow or widen the
    table."""
    prev_types = {f.name: f.dataType for f in prev_schema.fields}
    new_types = {f.name: f.dataType for f in new_schema.fields}
    for name, dt in new_types.items():
        if name in prev_types and prev_types[name] != dt:
            raise ValueError(
                f"append schema conflict on column {name!r}: table has "
                f"{prev_types[name].simpleString()}, delta has "
                f"{dt.simpleString()} (type CHANGES are never merged)"
            )
    extra = [n for n in new_types if n not in prev_types]
    missing = [n for n in prev_types if n not in new_types]
    if not merge_schema and (extra or missing):
        raise ValueError(
            f"append schema mismatch (extra={extra}, missing={missing}); "
            f"pass merge_schema=True to evolve the table schema"
        )
    fields = list(prev_schema.fields) + [
        StructField(f.name, f.dataType, True)
        for f in new_schema.fields
        if f.name in extra
    ]
    return StructType(fields)


def snapshot_append(
    df: DataFrame,
    table: str,
    merge_schema: bool = False,
    txn_app_id: str | None = None,
    txn_version: int | None = None,
) -> int:
    """Append: new version = previous version's files ∪ this commit's.
    No read or rewrite of existing data — O(delta) like Delta's append.
    Conflict-safe: the data files are written once; if a racing writer
    claims our version, only the cheap manifest composition re-reads the
    new latest and retries, so no concurrent commit's files are lost.

    Schema evolution: the committed schema is validated against the
    tip's (see :func:`_merged_append_schema`) — identical schemas pass,
    new columns require ``merge_schema=True`` (they commit as nullable;
    ``snapshot_read`` pins the manifest schema, so historic files read
    back NULL for them with no rewrite), and type changes always raise.
    Active CHECK constraints validate against the delta before any file
    is written.

    Idempotent writes (Delta's ``txnAppId``/``txnVersion``): with
    ``txn_app_id`` + ``txn_version``, the append is applied AT MOST ONCE
    per (app, version) — a retry after an ambiguous failure, or a
    restarted job re-running a completed step, sees the watermark and
    no-ops (returns the current version, writes nothing). Watermarks
    live in the TIP manifest and are carried forward by every commit
    (``_commit``), so one metadata read answers the check and VACUUM
    can never forget a watermark. Versions must be monotonically
    increasing per app id."""
    spark = df.sparkSession
    if (txn_app_id is None) != (txn_version is None):
        raise ValueError("txn_app_id and txn_version must be set together")
    v_pre, tip_pre = tablelog.tip(table, spark)
    if txn_app_id is not None:
        seen = tip_pre.get("txn") or {}
        if v_pre and int(seen.get(txn_app_id, -1)) >= int(txn_version):
            return v_pre  # already applied: exactly-once no-op
    cons_seen = tip_pre.get("constraints") or {}
    _validate_constraints(df, cons_seen)
    new_files = _write_data_files(df, table, tip_manifest=tip_pre)
    map_pre = tip_pre.get("column_mapping") or {}
    ret_pre = tip_pre.get("retired_physical") or []
    new_stats_cache: dict[tuple[str, ...], dict | None] = {}
    for _ in range(_MAX_COMMIT_RETRIES):
        v_tip, prev_manifest = tablelog.tip(table, spark)
        # Delta-style concurrent-METADATA detection: the delta files were
        # written with the pre-write tip's column mapping and retired set;
        # a racer's rename/drop landing since would make the committed
        # mapping disagree with the files' physical column names (wrong-
        # column reads, or a dropped column's data resurrecting through a
        # re-used physical name). Abort loudly — the caller re-runs the
        # append and writes against the new metadata. (Delta raises
        # ConcurrentMetadataUpdate for exactly this interleaving.)
        if (
            (prev_manifest.get("column_mapping") or {}) != map_pre
            or (prev_manifest.get("retired_physical") or []) != ret_pre
        ):
            _delete_files(spark, new_files)
            raise SnapshotConflictError(
                f"a concurrent column rename/drop changed {table}'s column "
                f"metadata while this append was writing — re-run the append"
            )
        cons_now = prev_manifest.get("constraints") or {}
        if cons_now != cons_seen:
            # a racer's ADD CONSTRAINT binds our delta too: the commit
            # inherits the new constraint set, so rows this append never
            # validated must not ride in unchecked
            try:
                _validate_constraints(df, cons_now)
            except Exception:
                _delete_files(spark, new_files)
                raise
            cons_seen = cons_now
        prev = prev_manifest.get("files", [])
        schema = df.schema
        if prev_manifest.get("schema") is not None:
            try:
                schema = _merged_append_schema(
                    StructType.fromJson(prev_manifest["schema"]), df.schema,
                    merge_schema,
                )
            except ValueError:
                # rejected commit: the already-written delta files are
                # referenced by no manifest — reclaim them now (vacuum
                # never would)
                _delete_files(spark, new_files)
                raise
        # stats continuity: the tip's per-file stats carry (compose), and
        # the same columns are collected for this append's files, so a
        # stats-pruned table (merge_partitioned / overwrite(stats_cols=...))
        # keeps whole-file skipping across appends instead of losing it
        stats_cols = tuple(_prev_stats_cols(prev_manifest.get("file_stats") or {}))
        if stats_cols not in new_stats_cache:
            new_stats_cache[stats_cols] = _new_file_stats(
                new_files, prev_manifest
            )
        if txn_app_id is not None:
            seen = prev_manifest.get("txn") or {}
            if int(seen.get(txn_app_id, -1)) >= int(txn_version):
                # a racer (same app) applied this version while we wrote:
                # reclaim our files and report the tip — still at-most-once
                _delete_files(spark, new_files)
                return v_tip
        try:
            return _commit(
                df, table, "append", prev + new_files,
                new_stats_cache[stats_cols],
                expected_version=v_tip + 1, schema=schema,
                txn=(txn_app_id, int(txn_version))
                if txn_app_id is not None
                else None,
            )
        except SnapshotConflictError:
            continue
    raise SnapshotConflictError(
        f"append to {table} lost {_MAX_COMMIT_RETRIES} consecutive races"
    )


# ---- deletion vectors: merge-on-read row-level deletes --------------------
#
# A copy-on-write DELETE rewrites every touched file — at 100 TB, deleting
# ten rows from a 1 GB file costs a 1 GB write. Deletion vectors (Delta's
# DVs / Iceberg's position deletes) invert the cost: the data files stay
# IMMUTABLE and the commit records which (file, row-position) pairs are
# dead, in parquet sidecars whose size is proportional to the rows
# deleted, not the rows kept. Readers subtract the dead positions with
# one anti-join against the (tiny) sidecar set; OPTIMIZE-style
# ``snapshot_purge_dv`` folds the vectors back into rewritten files when
# a file accumulates enough dead rows to be worth the I/O.
#
# Manifest shape: ``"dv": {"sidecars": [uri...],
# "cardinality": {data_file_uri: n_dead}}``. Cardinality is per data
# file, so metadata-only COUNT stays metadata-only (footer rows minus
# dead rows) and rewriting commits drop a file's entry the moment the
# file leaves the manifest (``_commit`` inheritance). Sidecar rows whose
# data file is no longer referenced are inert — the anti-join can't
# match them — and vacuum reclaims sidecar bytes by the same
# refcounting as data files.


def _dv_norm_path_expr(col):
    """file:///x, file:/x and /x all name the same local path — the Spark
    expression twin of :func:`tablelog.norm_uri`, applied to
    ``_metadata.file_path`` so scan-reported paths join against the
    normalized paths the sidecars store."""
    return F.regexp_replace(col, "^file:/+", "/")


def _dv_union_df(spark: SparkSession, manifest: dict) -> DataFrame | None:
    """All dead (file, pos) pairs of a manifest, or None when the
    snapshot carries no deletion vectors."""
    dv = manifest.get("dv") or {}
    sidecars = dv.get("sidecars") or []
    if not sidecars or not dv.get("cardinality"):
        return None
    return spark.read.schema("file string, pos bigint").parquet(*sidecars)


def _read_data_files(
    spark: SparkSession,
    schema: StructType,
    files: list[str],
    manifest: dict,
) -> DataFrame:
    """The one read path every snapshot consumer shares: a pinned-schema
    multi-path parquet scan with the manifest's deletion vectors
    subtracted. DV-free tables get the plain scan (no ``_metadata``
    column, no join — Catalyst sees an ordinary FileSourceScan).

    The subtraction is a left_anti join on (normalized file path,
    ``_metadata.row_index``). The sidecar side is sized by deleted rows
    — explicitly broadcast here; on a cluster where one commit deletes
    beyond the broadcast threshold, drop the hint and let AQE pick the
    strategy (the join stays keyed either way)."""
    if not files:
        return spark.createDataFrame([], schema)
    mapping = manifest.get("column_mapping") or {}
    df = spark.read.schema(_physical_schema(schema, mapping)).parquet(*files)
    card = (manifest.get("dv") or {}).get("cardinality") or {}
    back = {p: l for l, p in mapping.items() if p != l}

    def _logical(frame: DataFrame) -> DataFrame:
        return frame.withColumnsRenamed(back) if back else frame

    if not any(f in card for f in files):
        return _logical(df)
    dv = _dv_union_df(spark, manifest)
    if dv is None:
        return _logical(df)
    tagged = df.select(
        "*",
        _dv_norm_path_expr(F.col("_metadata.file_path")).alias("__dv_file"),
        F.col("_metadata.row_index").alias("__dv_pos"),
    )
    cond = (tagged["__dv_file"] == dv["file"]) & (tagged["__dv_pos"] == dv["pos"])
    return _logical(
        tagged.join(F.broadcast(dv), cond, "left_anti").drop(
            "__dv_file", "__dv_pos"
        )
    )


def snapshot_read(
    spark: SparkSession, table: str, version: int | None = None
) -> DataFrame:
    """Read one snapshot (default: latest). The scan is a plain multi-path
    parquet read — pushdown, pruning and the vectorized reader all apply;
    an empty snapshot returns an empty DataFrame with the manifest's
    schema (a zero-file parquet read has no schema to infer)."""
    _, manifest = tablelog.pin(table, version, spark)
    schema = StructType.fromJson(manifest["schema"])
    # pin the schema from the manifest: mixed historic widths across
    # commits must resolve to the COMMITTED schema, not scan-order luck;
    # deletion vectors (if any) are subtracted inside the shared helper
    return _read_data_files(spark, schema, manifest["files"], manifest)


def snapshot_scan(
    spark: SparkSession,
    table: str,
    column: str,
    lo,
    hi,
    version: int | None = None,
) -> DataFrame:
    """Stats-pruned range scan — Iceberg-style scan planning on the
    manifest: files whose recorded [min, max] for ``column`` cannot
    intersect [lo, hi] are never opened (they don't even reach the file
    index), and the range filter is applied on top so the result is
    exactly ``snapshot_read(...).filter(lo <= column <= hi)``. Files
    without stats for ``column`` are conservatively included — pruning
    is an optimization, never a semantics change. This is what plain
    parquet directories can't do: Spark's scan prunes row groups inside
    files it opens, but only a table format's metadata can skip whole
    files before planning. Record stats via
    ``snapshot_merge_partitioned(..., stats_cols=[column])``."""
    from pyspark.sql import functions as F

    _, manifest = tablelog.pin(table, version, spark)
    files = tablelog.prune(
        manifest["files"],
        manifest.get("file_stats"),
        {column: {"lo": lo, "hi": hi}},
    )
    schema = StructType.fromJson(manifest["schema"])
    pred = (F.col(column) >= F.lit(lo)) & (F.col(column) <= F.lit(hi))
    return _read_data_files(spark, schema, files, manifest).filter(pred)


def snapshot_merge(df: DataFrame, table: str, key_cols: list[str]) -> int:
    """MERGE (upsert) with snapshot isolation: current snapshot anti-joined
    against the delta's keys (null-safe, same relational core as
    ``upsert_parquet``), unioned with the delta, committed as a fresh file
    set. No staging swap, no deletion — concurrent readers of version N
    are untouched while N+1 commits; failed merges leave no visible state.

    At 100 TB the full-rewrite shape belongs on a partitioned variant
    (rewrite only touched partitions, as ``upsert_parquet_partitioned``
    does); the manifest protocol is identical — only ``files`` shrinks to
    the touched partitions' files plus carried-over untouched ones."""
    from bookstore_aws_lakehouse_spark.sources.writers import _anti_join_null_safe

    spark = df.sparkSession
    cons_seen = _tip_constraints(spark, table)
    _validate_constraints(df, cons_seen)
    keys = list(key_cols)
    for _ in range(3):
        versions = list_versions(spark, table)
        if not versions:
            files = _write_data_files(df, table)
            try:
                return _commit(
                    df, table, "merge", files, expected_version=1,
                    constraints_validated=cons_seen,
                )
            except SnapshotConflictError:
                _delete_files(spark, files)  # racer created v1: re-merge
                continue
            except SnapshotConstraintError:
                _delete_files(spark, files)
                raise
        existing = snapshot_read(spark, table, version=versions[-1])
        keep = _anti_join_null_safe(existing, df.select(*keys), keys)
        merged = keep.unionByName(df.select(keep.columns))
        # the files are written from `merged`, so the manifest must carry
        # MERGED's schema — which must equal the table's: a delta whose
        # column types drift would widen the union output and make the
        # pinned-schema read of the new tip throw. Refuse with a hint.
        for f_old, f_new in zip(existing.schema.fields, merged.schema.fields):
            if f_old.dataType != f_new.dataType:
                raise ValueError(
                    f"merge delta changes column {f_old.name!r} from "
                    f"{f_old.dataType.simpleString()} to "
                    f"{f_new.dataType.simpleString()} — CAST the delta to "
                    f"the table's types first"
                )
        files = _write_data_files(merged, table)
        try:
            return _commit(
                df,
                table,
                "merge",
                files,
                expected_version=versions[-1] + 1,
                schema=existing.schema,
                # a racing ADD CONSTRAINT is re-checked against the delta
                # at claim time (the racer's own commit validated the
                # kept rows; the delta is the unvalidated remainder)
                constraints_validated=cons_seen,
            )
        except SnapshotConflictError:
            # merged content was computed against a superseded snapshot:
            # discard the orphaned files and recompute against the new tip
            _delete_files(spark, files)
            continue
        except SnapshotConstraintError:
            _delete_files(spark, files)
            raise
    raise SnapshotConflictError(
        f"merge into {table} lost 3 consecutive races — retry under lower "
        f"write concurrency"
    )


def snapshot_merge_when(
    source: DataFrame,
    table: str,
    key_cols: list[str],
    when_matched_update: dict[str, str] | None = None,
    when_matched_update_condition: str | None = None,
    when_matched_delete: str | None = None,
    when_not_matched_insert: bool = True,
    when_not_matched_by_source_delete: str | None = None,
) -> int:
    """Conditional three-clause MERGE (the Delta/SQL:2003 ``MERGE INTO``
    surface; ``snapshot_merge`` is the unconditional upsert special
    case): target rows join the source null-safely on ``key_cols`` and

    - MATCHED + ``when_matched_delete`` condition → row dropped;
    - MATCHED (not deleted) + ``when_matched_update`` (optionally gated
      by ``when_matched_update_condition``) → the listed columns
      recompute from expressions over both sides (``t.col`` = target,
      ``s.col`` = source); other matched rows carry unchanged;
    - NOT MATCHED (source-only) + ``when_not_matched_insert`` → source
      row inserted (source must carry the target's columns);
    - NOT MATCHED BY SOURCE (target-only) +
      ``when_not_matched_by_source_delete`` condition (over ``t.*``) →
      row dropped — the "sync target to source" clause.

    Delete is evaluated before update (a matched row satisfying both is
    deleted). Conditions follow SQL semantics: NULL = clause does not
    fire. Column types must survive (same contract as
    ``snapshot_update``); CHECK constraints validate the result before
    it replaces the tip. One full-outer join + one rewrite, committed
    with the same optimistic-concurrency retry as ``snapshot_merge``.
    Reference: Delta Lake's MERGE (public API semantics), rebuilt
    relationally."""
    import functools

    spark = source.sparkSession
    keys = list(key_cols)
    upd = dict(when_matched_update or {})
    if upd or when_matched_delete is not None:
        # Delta's 'multiple source rows matched' contract: with a
        # matched clause, two source rows on one key would update/delete
        # the same target row ambiguously — refuse instead of silently
        # duplicating it through the full-outer join (groupBy treats
        # NULL keys as one group, matching the null-safe join)
        if source.groupBy(*keys).count().filter(F.col("count") > 1).limit(1).count():
            raise ValueError(
                "MERGE source has multiple rows for the same key; "
                "pre-aggregate the source so each key appears once "
                "(Delta raises the same error)"
            )
    for _ in range(3):
        versions = list_versions(spark, table)
        if not versions:
            raise FileNotFoundError(f"no snapshot manifests under {table}")
        tgt = snapshot_read(spark, table, version=versions[-1])
        cols = tgt.columns
        missing = [c for c in cols if c not in source.columns]
        if when_not_matched_insert and missing:
            raise ValueError(
                f"WHEN NOT MATCHED INSERT needs the source to carry every "
                f"target column; missing {missing}"
            )
        for c in upd:
            if c not in cols:
                raise ValueError(f"UPDATE SET of unknown column {c!r} ({cols})")
        t = tgt.withColumn("_t_present", F.lit(True)).alias("t")
        s = source.withColumn("_s_present", F.lit(True)).alias("s")
        on = functools.reduce(
            lambda a, b: a & b,
            [F.col(f"t.{k}").eqNullSafe(F.col(f"s.{k}")) for k in keys],
        )
        j = t.join(s, on, "full_outer")
        matched = F.coalesce(F.col("t._t_present"), F.lit(False)) & F.coalesce(
            F.col("s._s_present"), F.lit(False)
        )
        t_only = F.coalesce(F.col("t._t_present"), F.lit(False)) & ~F.coalesce(
            F.col("s._s_present"), F.lit(False)
        )
        s_only = ~F.coalesce(F.col("t._t_present"), F.lit(False))

        def cond(expr_str: str | None):
            if expr_str is None:
                return F.lit(False)
            return F.coalesce(F.expr(expr_str), F.lit(False))

        keep = (
            F.when(matched, ~cond(when_matched_delete))
            .when(t_only, ~cond(when_not_matched_by_source_delete))
            .otherwise(F.lit(when_not_matched_insert))
        )
        upd_fires = (
            matched
            & ~cond(when_matched_delete)
            & (
                F.lit(True)
                if when_matched_update_condition is None
                else cond(when_matched_update_condition)
            )
            if upd
            else F.lit(False)
        )
        out_cols = []
        for c in cols:
            col = (
                F.when(upd_fires, F.expr(upd[c])) if c in upd else F.when(F.lit(False), F.col(f"t.{c}"))
            )
            # a delete-only/update-only merge may ship a keys-only source
            # (insert disabled, validated above): the source branch then
            # never survives `keep`, but the expression must still resolve
            insert_src = (
                F.col(f"s.{c}")
                if c in source.columns
                else F.lit(None).cast(tgt.schema[c].dataType)
            )
            out_cols.append(
                col.when(matched | t_only, F.col(f"t.{c}"))
                .otherwise(insert_src)
                .alias(c)
            )
        merged = j.filter(keep).select(*out_cols)
        for f_old, f_new in zip(tgt.schema.fields, merged.schema.fields):
            if f_old.dataType != f_new.dataType:
                raise ValueError(
                    f"MERGE UPDATE expression changes column {f_old.name!r} "
                    f"from {f_old.dataType.simpleString()} to "
                    f"{f_new.dataType.simpleString()} — add an explicit "
                    f"CAST(... AS {f_old.dataType.simpleString()})"
                )
        _validate_constraints(merged, _tip_constraints(spark, table))
        files = _write_data_files(merged, table)
        try:
            return _commit(
                merged,
                table,
                "merge",
                files,
                expected_version=versions[-1] + 1,
                schema=tgt.schema,
            )
        except SnapshotConflictError:
            _delete_files(spark, files)
            continue
    raise SnapshotConflictError(
        f"conditional merge into {table} lost 3 consecutive races — retry "
        f"under lower write concurrency"
    )


#: racer operations a partitioned merge can rebase across: each leaves
#: every untouched base file's CONTENT in place (append/merge/delete
#: rewrite or add files elsewhere; optimize rewrites byte-identical data).
#: An "overwrite" replaces table state wholesale — the base the merge
#: composed against is meaningless and a recompute is mandatory.
_REBASEABLE_OPS = frozenset({"append", "merge", "delete", "optimize"})


def _try_rebase_partitioned(
    spark: SparkSession,
    table: str,
    base_version: int,
    base_files: list[str],
    touched: list[str],
    new_files: list[str],
    new_stats: dict | None,
    probe: dict,
    manifest_df: DataFrame,
    schema: "StructType | None" = None,
) -> int | None:
    """Conflict-class resolution for a partitioned merge that lost its
    version race: if every racing commit since ``base_version`` is
    provably DISJOINT from this merge, re-point the already-written
    ``new_files`` at the new tip instead of recomputing the whole
    anti-join + rewrite. Disjointness is decided from manifests alone
    (no data I/O):

    1. every racer op is in ``_REBASEABLE_OPS`` (no overwrite);
    2. the tip still references every file this merge rewrote
       (``touched``) — no racer touched the same files; and
    3. every file the racers ADDED (tip ∖ base) carries partition-column
       stats proving it holds none of this merge's partition values
       (``probe``, the ``tablelog.file_may_match`` bounds) —
       with partition_col functionally dependent on the merge keys
       (the documented contract), no racer row can collide with a delta
       key. Files without stats fail the test (conservative).

    The rebased manifest is (tip ∖ touched) ∪ new_files — racer rewrites
    of files this merge only CARRIED adopt the racer's version. Returns
    the committed version, or None when the conflict is not provably
    disjoint (caller recomputes). Retries follow-on races by re-running
    the same proof against each newer tip."""
    for _ in range(_MAX_COMMIT_RETRIES):
        versions = list_versions(spark, table)
        tip_v = versions[-1]
        if tip_v <= base_version:  # racer vanished (vacuum?) — recompute
            return None
        racers = [_read_manifest(spark, table, v)
                  for v in versions if base_version < v <= tip_v]
        if any(m["operation"] not in _REBASEABLE_OPS for m in racers):
            return None
        tip = racers[-1]
        tip_files = set(tip["files"])
        if not set(touched) <= tip_files:
            return None
        tip_stats = tip.get("file_stats") or {}
        if tablelog.prune(sorted(tip_files - set(base_files)), tip_stats, probe):
            return None
        touched_set = set(touched)
        rebased_files = [f for f in tip["files"] if f not in touched_set]
        try:
            return _commit(
                manifest_df,
                table,
                "merge",
                rebased_files + new_files,
                new_stats,
                expected_version=tip_v + 1,
                schema=schema,
            )
        except SnapshotConflictError:
            continue  # yet another racer: re-prove against the newer tip
    return None


def snapshot_merge_partitioned(
    df: DataFrame,
    table: str,
    key_cols: list[str],
    partition_col: str,
    stats_cols: list[str] | None = None,
) -> int:
    """File-pruned MERGE — the 100 TB evolution of ``snapshot_merge``:
    only data files whose footer stats could hold one of the delta's
    ``partition_col`` values are rewritten; every provably-disjoint file
    is CARRIED FORWARD into the new manifest untouched (same file path,
    zero I/O). A daily delta against a mart of years rewrites a handful
    of files and commits in O(delta), exactly the Iceberg/Delta
    metadata-pruning model — here the "manifest stats" are collected from
    parquet row-group footers at commit time (``_collect_file_stats``).

    Data files are written hash-clustered on ``partition_col``
    (``repartition(partition_col)``) so each partition value lands in one
    file and file stat ranges stay tight; ``partition_col`` remains a
    normal data column (no hive layout), so reads need no basePath
    tricks and Catalyst still gets min/max row-group skipping on it.

    CONTRACT (same as ``upsert_parquet_partitioned``): ``partition_col``
    must be functionally dependent on the keys — a key that moves
    between partitions would leave its old copy in a carried file. When
    stats are unavailable (remote FS, exotic types), every file is
    treated as touched: the merge degrades to ``snapshot_merge``'s full
    rewrite, never to a wrong answer."""
    from bookstore_aws_lakehouse_spark.sources.writers import (
        MAX_UPSERT_PARTITIONS,
        _anti_join_null_safe,
    )

    spark = df.sparkSession
    cons_seen = _tip_constraints(spark, table)
    _validate_constraints(df, cons_seen)
    keys = list(key_cols)
    df = df.localCheckpoint()  # evaluated for values, keys, and the union
    # EXPLICIT partition count: a bare repartition(col) is AQE-coalescable
    # — small commits would collapse into one file holding every partition
    # value, and file-level stat ranges would never prune. With the count
    # pinned, each value's hash bucket stays its own file; the small-file
    # cost on tiny commits is what compact_parquet / a size-tiered write
    # policy handles at scale.
    n_buckets = int(spark.conf.get("spark.sql.shuffle.partitions"))
    clustered = lambda d: d.repartition(n_buckets, partition_col)  # noqa: E731
    # stats recorded for the partition column plus any extra columns the
    # caller wants scan-time pruning on (snapshot_scan)
    all_stats_cols = [partition_col] + [
        c for c in (stats_cols or []) if c != partition_col
    ]
    cap = MAX_UPSERT_PARTITIONS
    parts = [
        r[0] for r in df.select(partition_col).distinct().limit(cap + 1).collect()
    ]
    if len(parts) > cap:
        raise ValueError(
            f"snapshot_merge_partitioned: delta touches more than {cap} "
            f"distinct '{partition_col}' values — key-grade cardinality; "
            f"partition by a coarser derived column or use snapshot_merge."
        )
    # NULL rides in the probe as None: it matches files holding NULLs
    probe = {partition_col: {"values": parts}}
    for _ in range(3):
        tip_v, manifest = tablelog.tip(table, spark)
        if not tip_v:
            files = _write_data_files(clustered(df), table)
            try:
                return _commit(
                    df,
                    table,
                    "merge",
                    files,
                    _collect_file_stats(files, all_stats_cols),  # new table: unmapped
                    expected_version=1,
                )
            except SnapshotConflictError:
                _delete_files(spark, files)  # racer created v1: re-merge
                continue
        prev_files = manifest["files"]
        touched, carried = _split_by_stats(manifest, probe)
        schema = StructType.fromJson(manifest["schema"])
        if touched:
            existing = _read_data_files(spark, schema, touched, manifest)
            keep = _anti_join_null_safe(existing, df.select(*keys), keys)
            merged = keep.unionByName(df.select(keep.columns))
        else:
            merged = df.select(*schema.names)
        # files are written from `merged`; the manifest must not lie about
        # them — refuse a type-drifted delta (the union would widen the
        # files while the pinned schema stays narrow → unreadable tip)
        for f_old, f_new in zip(schema.fields, merged.schema.fields):
            if f_old.dataType != f_new.dataType:
                raise ValueError(
                    f"merge delta changes column {f_old.name!r} from "
                    f"{f_old.dataType.simpleString()} to "
                    f"{f_new.dataType.simpleString()} — CAST the delta to "
                    f"the table's types first"
                )
        new_files = _write_data_files(clustered(merged), table)
        new_stats = _collect_file_stats(
            new_files, all_stats_cols, manifest.get("column_mapping") or {}
        )
        try:
            return _commit(
                df,
                table,
                "merge",
                carried + new_files,
                new_stats,
                expected_version=tip_v + 1,
                schema=schema,
                # racing ADD CONSTRAINT: re-check the delta at claim time
                # (the rebase path never sees one — constraint ops are not
                # in _REBASEABLE_OPS, so those races recompute through
                # here)
                constraints_validated=cons_seen,
            )
        except SnapshotConstraintError:
            _delete_files(spark, new_files)
            raise
        except SnapshotConflictError:
            # computed against a superseded snapshot. If every racing
            # commit is provably disjoint (kept our touched files, added
            # nothing in our partition values), rebase the already-written
            # files onto the new tip — no recompute, no data I/O:
            rebased = _try_rebase_partitioned(
                spark,
                table,
                base_version=tip_v,
                base_files=prev_files,
                touched=touched,
                new_files=new_files,
                new_stats=new_stats,
                probe=probe,
                manifest_df=df,
                schema=schema,
            )
            if rebased is not None:
                return rebased
            # overlapping (or unprovable) conflict: drop the orphaned
            # files and recompute against the new tip
            _delete_files(spark, new_files)
            continue
    raise SnapshotConflictError(
        f"partitioned merge into {table} lost 3 consecutive races — retry "
        f"under lower write concurrency"
    )


def snapshot_scan_multi(
    spark: SparkSession,
    table: str,
    ranges: dict[str, tuple],
    version: int | None = None,
) -> DataFrame:
    """Stats-pruned scan on SEVERAL column ranges at once — the consumer
    the Z-ordered layout exists for: a file is opened only when its
    recorded [min, max] intersects EVERY predicate's range, so pruning
    factors multiply across dimensions (on a Z-ordered table each
    predicate independently removes most files; a linear clustering can
    only ever serve one). Result is exactly
    ``snapshot_read(...).filter(AND of all ranges)`` — files without
    stats are conservatively included, pruning is never a semantics
    change. ``ranges`` maps column -> (lo, hi), both inclusive."""
    from pyspark.sql import functions as F

    if not ranges:
        raise ValueError("ranges must name at least one column")
    _, manifest = tablelog.pin(table, version, spark)
    files = tablelog.prune(
        manifest["files"],
        manifest.get("file_stats"),
        {c: {"lo": lo, "hi": hi} for c, (lo, hi) in ranges.items()},
    )
    schema = StructType.fromJson(manifest["schema"])
    pred = None
    for column, (lo, hi) in ranges.items():
        c = (F.col(column) >= F.lit(lo)) & (F.col(column) <= F.lit(hi))
        pred = c if pred is None else pred & c
    return _read_data_files(spark, schema, files, manifest).filter(pred)


def _split_by_stats(manifest: dict, bounds: dict) -> tuple[list[str], list[str]]:
    """(touched, carried): the manifest's files whose stats can't rule
    out ``bounds`` (``tablelog.file_may_match``), and the rest — which the
    next version carries by identity, zero I/O."""
    files = manifest["files"]
    touched = tablelog.prune(files, manifest.get("file_stats"), bounds)
    hit = set(touched)
    return touched, [f for f in files if f not in hit]


def _new_file_stats(new_files: list[str], manifest: dict) -> dict | None:
    """Footer stats for a rewrite's new files, for every column the tip
    ``manifest`` tracks — so pruning survives the operation (the carried
    files' entries ride along in ``tablelog.compose``). None when the tip
    tracks no stats."""
    stats_cols = _prev_stats_cols(manifest.get("file_stats") or {})
    if not stats_cols:
        return None
    return _collect_file_stats(
        new_files, stats_cols, manifest.get("column_mapping") or {}
    )


def _prev_stats_cols(prev_stats: dict) -> list[str]:
    """Union of columns any file in a manifest has stats for — rewrites
    re-collect the same columns so pruning survives the operation."""
    cols: list[str] = []
    for per_col in prev_stats.values():
        for c in per_col:
            if c not in cols:
                cols.append(c)
    return cols


def snapshot_delete(
    spark: SparkSession,
    table: str,
    column: str,
    lo,
    hi,
    extra_condition=None,
) -> int:
    """Row-level DELETE with stats-pruned file rewrite — the
    ``DELETE FROM t WHERE column BETWEEN lo AND hi [AND extra]`` analog:
    files whose manifest stats prove ``column`` never lands in
    ``[lo, hi]`` are CARRIED into the new version untouched (zero I/O,
    same path); only files that may hold a matching row are read and
    rewritten without the deleted rows. SQL semantics: a NULL ``column``
    (or a NULL ``extra_condition``) never matches the predicate, so those
    rows are kept. The rewrite is a narrow filter over the touched files
    (no shuffle), so each surviving file keeps its clustering and its
    re-collected stats stay tight; files rewritten to zero rows drop out
    of the manifest entirely. Prior versions remain readable (time
    travel) until ``vacuum``. Conflicts recompute against the new tip
    (delete predicates are ranges, not value lists, so the partitioned-
    merge rebase proof doesn't apply as-is)."""
    from pyspark.sql import functions as F

    pred = (F.col(column) >= F.lit(lo)) & (F.col(column) <= F.lit(hi))
    if extra_condition is not None:
        extra = (
            F.expr(extra_condition)
            if isinstance(extra_condition, str)
            else extra_condition
        )
        pred = pred & extra
    for _ in range(3):
        tip_v, manifest = tablelog.pin(table, spark=spark)
        touched, carried = _split_by_stats(manifest, {column: {"lo": lo, "hi": hi}})
        schema = StructType.fromJson(manifest["schema"])
        new_files: list[str] = []
        if touched:
            # the shared read path applies any deletion vectors on the
            # touched files, so the rewrite can't resurrect dead rows
            survivors = _read_data_files(spark, schema, touched, manifest).filter(
                ~F.coalesce(pred, F.lit(False))
            )
            new_files = _write_data_files(survivors, table, tip_manifest=manifest)
        placeholder = spark.createDataFrame([], schema)
        try:
            return _commit(
                placeholder,
                table,
                "delete",
                carried + new_files,
                _new_file_stats(new_files, manifest),
                expected_version=tip_v + 1,
            )
        except SnapshotConflictError:
            _delete_files(spark, new_files)
            continue
    raise SnapshotConflictError(
        f"delete on {table} lost 3 consecutive races — retry under lower "
        f"write concurrency"
    )


def snapshot_replace_where(
    df: DataFrame,
    table: str,
    column: str,
    lo,
    hi,
) -> int:
    """Delta's ``replaceWhere``: atomically replace exactly the rows with
    ``column BETWEEN lo AND hi`` by ``df``'s rows, in ONE commit (op
    ``replace_where``) — the idempotent partition-reload primitive (a
    nightly job recomputes one day/month and swaps it in; rerunning the
    job converges to the same state). ``df`` is VALIDATED to lie inside
    the range (NULLs fail) — rows outside it would silently corrupt
    untouched partitions, so they refuse instead (Delta's check).

    Scale shape, same as :func:`snapshot_delete`: files whose manifest
    stats prove ``column`` disjoint from the range are CARRIED by
    identity (zero I/O); only boundary files that straddle the range are
    read (DV-aware) and rewritten without their in-range rows. With a
    range-clustered layout the replaced partition's files are dropped
    wholesale and the rewrite set is empty or tiny."""
    spark = df.sparkSession
    pred = (F.col(column) >= F.lit(lo)) & (F.col(column) <= F.lit(hi))
    if df.filter(~F.coalesce(pred, F.lit(False))).limit(1).count():
        raise ValueError(
            f"replaceWhere data contains rows outside {column} BETWEEN "
            f"{lo!r} AND {hi!r} (or with NULL {column}) — the replacement "
            f"must lie entirely inside the replaced range"
        )
    cons_seen = _tip_constraints(spark, table)
    _validate_constraints(df, cons_seen)
    for _ in range(3):
        tip_v, manifest = tablelog.pin(table, spark=spark)
        cons_now = manifest.get("constraints") or {}
        if cons_now != cons_seen:
            # a racing ADD CONSTRAINT landed since the pre-loop check: the
            # commit below inherits the new set, so the replacement rows
            # must be re-validated (the commit's own df is an empty
            # placeholder — the check has to happen here). Survivor rows
            # were validated by the constraint-add's full-table pass.
            _validate_constraints(df, cons_now)
            cons_seen = cons_now
        touched, carried = _split_by_stats(manifest, {column: {"lo": lo, "hi": hi}})
        schema = StructType.fromJson(manifest["schema"])
        replacement = df.select(*schema.names)
        if touched:
            survivors = _read_data_files(spark, schema, touched, manifest).filter(
                ~F.coalesce(pred, F.lit(False))
            )
            replacement = survivors.unionByName(replacement)
        new_files = _write_data_files(replacement, table, tip_manifest=manifest)
        placeholder = spark.createDataFrame([], schema)
        try:
            return _commit(
                placeholder,
                table,
                "replace_where",
                carried + new_files,
                _new_file_stats(new_files, manifest),
                expected_version=tip_v + 1,
            )
        except SnapshotConflictError:
            _delete_files(spark, new_files)
            continue
    raise SnapshotConflictError(
        f"replace_where on {table} lost 3 consecutive races — retry under "
        f"lower write concurrency"
    )


def snapshot_optimize(
    spark: SparkSession,
    table: str,
    target_file_bytes: int = 128 << 20,
    cluster_col: str | None = None,
) -> int:
    """Bin-pack compaction — the OPTIMIZE analog, and the companion of
    the streaming snapshot sink (one micro-batch = one commit = a few
    small files; a day of minutely batches is thousands): files smaller
    than ``target_file_bytes`` are read and rewritten into
    ~``ceil(total/target)`` right-sized files; every already-large file
    is CARRIED by identity. Data is byte-identical — only layout changes
    — so the commit (op ``optimize``) is rebase-transparent to racing
    partitioned merges of untouched files. With ``cluster_col`` the
    rewrite is range-repartitioned + sorted on that column so the packed
    files keep tight, prunable stat ranges (plain packing unions ranges —
    correct, but file skipping degrades); stats are re-collected for the
    same columns the previous manifest tracked either way. No-op (returns
    the current version) when fewer than two files qualify."""
    for _ in range(3):
        tip_v, manifest = tablelog.pin(table, spark=spark)
        fs, _, jvm = _fs(spark, table)
        small, carried, small_bytes = [], [], 0
        for f in manifest["files"]:
            size = fs.getFileStatus(jvm.org.apache.hadoop.fs.Path(f)).getLen()
            if size < target_file_bytes:
                small.append(f)
                small_bytes += size
            else:
                carried.append(f)
        if len(small) < 2:
            return tip_v
        schema = StructType.fromJson(manifest["schema"])
        # DV-aware read: packing a file folds its deletion vector into
        # the rewrite, and _commit inheritance drops the entry with the
        # file — OPTIMIZE doubles as incremental DV purge for small files
        packed = _read_data_files(spark, schema, small, manifest)
        _tipm = manifest
        n_out = max(1, -(-small_bytes // target_file_bytes))
        if cluster_col is not None:
            from pyspark.sql import functions as F

            packed = packed.repartitionByRange(
                n_out, F.col(cluster_col)
            ).sortWithinPartitions(cluster_col)
        else:
            packed = packed.coalesce(n_out)
        new_files = _write_data_files(packed, table, tip_manifest=_tipm)
        placeholder = spark.createDataFrame([], schema)
        try:
            return _commit(
                placeholder,
                table,
                "optimize",
                carried + new_files,
                _new_file_stats(new_files, manifest),
                expected_version=tip_v + 1,
            )
        except SnapshotConflictError:
            _delete_files(spark, new_files)
            continue
    raise SnapshotConflictError(
        f"optimize on {table} lost 3 consecutive races — retry under lower "
        f"write concurrency"
    )


_CHECKPOINT_NAME = "_history_checkpoint.json"


def _read_history_checkpoint(spark: SparkSession, table: str) -> dict | None:
    return tablelog.read_json(
        f"{table.rstrip('/')}/{_MANIFEST_DIR}/{_CHECKPOINT_NAME}",
        spark,
        missing_ok=True,
    )


def checkpoint_history(spark: SparkSession, table: str) -> int:
    """Roll the per-version history summaries (version, operation,
    n_files, committed_at_unix) up to the current tip into ONE checkpoint
    file, so ``history`` stops being O(versions) manifest reads — the
    analog of Delta's log checkpoint, sized for this format's pain point:
    a streaming ``foreachBatch`` snapshot sink commits one version per
    micro-batch, and a day of minutely batches is ~1.4k manifests. Data
    manifests stay untouched (each is still the self-contained source of
    truth for READS — time travel and vacuum don't consult the
    checkpoint); only the history LISTING is summarized. The checkpoint
    is derived data: it is rewritten wholesale (overwrite=True — a racing
    checkpoint writes the same prefix plus whatever newer versions it
    saw, so last-writer-wins is safe), and versions vacuumed later are
    filtered out at read time against the live manifest listing. Returns
    the tip version covered."""
    versions = list_versions(spark, table)
    if not versions:
        raise FileNotFoundError(f"no snapshot manifests under {table}")
    prior = _read_history_checkpoint(spark, table)
    # prune rows for versions vacuum has dropped: the checkpoint should
    # not grow without bound across vacuum cycles (they are filtered at
    # read time anyway — this just bounds the file)
    live = set(versions)
    rows = {r[0]: r for r in (prior or {}).get("rows", []) if r[0] in live}
    for v in versions:
        if v not in rows:
            m = _read_manifest(spark, table, v)
            rows[v] = [v, m["operation"], len(m["files"]),
                       float(m["committed_at_unix"])]
    payload = {
        "upto": versions[-1],
        "rows": sorted(rows.values(), key=lambda r: r[0]),
    }
    # atomic replace: a concurrent history() reads either the old
    # checkpoint or the new one, never partial bytes
    tablelog.publish(
        f"{table.rstrip('/')}/{_MANIFEST_DIR}/{_CHECKPOINT_NAME}",
        json.dumps(payload, sort_keys=True).encode("utf-8"),
        exclusive=False,
        spark=spark,
    )
    return versions[-1]


def snapshot_files(
    spark: SparkSession, table: str, version: int | None = None
) -> DataFrame:
    """Per-file metadata table — Iceberg's ``t.files`` / Delta's
    ``DESCRIBE DETAIL`` at file granularity, from the manifest + parquet
    footers only (no data I/O, no distributed job): one row per data
    file with size, footer row count, live rows (footer minus deletion-
    vector cardinality), DV flag, and the recorded min/max/has_null per
    stats column (as a ``stats`` map of ``col -> [min, max, has_null]``
    strings). The operator's view for layout questions — which files are
    tiny (OPTIMIZE?), which carry vectors (purge?), whether the
    clustering actually produced disjoint ranges (zorder verification) —
    all answered without touching data bytes."""
    _, m = tablelog.pin(table, version, spark)
    stats = m.get("file_stats") or {}
    card = (m.get("dv") or {}).get("cardinality") or {}
    try:
        import pyarrow.parquet as pq
    except ImportError:
        pq = None
    fs, _, jvm = _fs(spark, table)
    rows = []
    for f in m["files"]:
        try:
            size = fs.getFileStatus(jvm.org.apache.hadoop.fs.Path(f)).getLen()
        except Exception:
            size = None
        n_rows = None
        local = tablelog.local_path(f)
        if pq is not None and local is not None:
            try:
                n_rows = pq.ParquetFile(local).metadata.num_rows
            except OSError:
                n_rows = None
        dead = int(card.get(f, 0))
        st = {
            c: [str(x) for x in row_] for c, row_ in (stats.get(f) or {}).items()
        }
        rows.append(
            (
                f,
                size,
                n_rows,
                (n_rows - dead) if n_rows is not None else None,
                dead > 0,
                st,
            )
        )
    return spark.createDataFrame(
        rows,
        "file string, size_bytes bigint, num_rows bigint, "
        "num_live_rows bigint, has_deletion_vector boolean, "
        "stats map<string, array<string>>",
    )


def history(spark: SparkSession, table: str) -> DataFrame:
    """Commit log as a DataFrame: (version, operation, n_files,
    committed_at_unix) — the DESCRIBE HISTORY analog. With a
    ``checkpoint_history`` checkpoint present, only manifests NEWER than
    the checkpointed tip are opened (plus one checkpoint read); without
    one, every manifest is read. Checkpoint rows for versions vacuum has
    since dropped are filtered against the live listing, so the two
    paths always agree."""
    versions = list_versions(spark, table)
    live = set(versions)
    ckpt = _read_history_checkpoint(spark, table)
    rows_by_v: dict[int, tuple] = {}
    upto = -1
    if ckpt is not None:
        upto = ckpt["upto"]
        for v, op, n_files, ts in ckpt["rows"]:
            if v in live:
                rows_by_v[v] = (v, op, n_files, float(ts))
    for v in versions:
        if v > upto or v not in rows_by_v:
            m = _read_manifest(spark, table, v)
            rows_by_v[v] = (
                v, m["operation"], len(m["files"]), float(m["committed_at_unix"])
            )
    rows = [rows_by_v[v] for v in sorted(rows_by_v)]
    return spark.createDataFrame(
        rows, "version int, operation string, n_files int, committed_at_unix double"
    )


def snapshot_restore(spark: SparkSession, table: str, version: int) -> int:
    """RESTORE TABLE ... TO VERSION AS OF — roll the table back to a
    prior version's content AS A NEW COMMIT (op ``restore``): the old
    manifest's file list, schema and stats are re-committed under the
    next version number, so the rollback itself is time-travelable and
    vacuum-refcounting keeps the shared files alive. Nothing is copied —
    O(manifest). Requires ``version`` to still exist (not vacuumed).
    Deliberately NOT rebaseable by racing merges: like overwrite, a
    restore replaces table state wholesale, so concurrent
    state-dependent writers must recompute against it."""
    _, m = tablelog.pin(table, version, spark)

    def build(tip_m: dict) -> dict:
        # the restored manifest is the base its facts carry from (stats,
        # blooms and deletion vectors travel with the restored file list;
        # constraints are part of the restored state) — except txn:
        # idempotent-writer watermarks are HIGH-WATER marks, not state,
        # so the tip's max-merge in and an already-applied (app, version)
        # can never re-apply after a rollback
        out = tablelog.compose(
            m, "restore", m["files"], m["schema"], txn=tip_m.get("txn")
        )
        out["restored_from"] = version
        return out

    return tablelog.commit_next(
        table,
        build,
        spark,
        claim=lambda manifest, v: _claim_version(spark, table, manifest, v),
    )


def version_at_timestamp(spark: SparkSession, table: str, ts_unix: float) -> int:
    """``TIMESTAMP AS OF`` resolution: the latest version whose commit
    time is at or before ``ts_unix`` (seconds since epoch, as recorded in
    the manifests' ``committed_at_unix``). Reads the history listing —
    O(recent) when a ``checkpoint_history`` checkpoint exists. Raises
    ValueError when the table has no version that old (the timestamp
    predates the table, or vacuum dropped the era)."""
    rows = history(spark, table).collect()
    eligible = [r.version for r in rows if r.committed_at_unix <= ts_unix]
    if not eligible:
        raise ValueError(
            f"no version of {table} existed at unix time {ts_unix} "
            f"(earliest surviving commit: "
            f"{min((r.committed_at_unix for r in rows), default=None)})"
        )
    return max(eligible)


def snapshot_read_asof(
    spark: SparkSession, table: str, ts_unix: float
) -> DataFrame:
    """Time travel by wall clock instead of version number — the
    ``SELECT ... TIMESTAMP AS OF`` analog."""
    return snapshot_read(spark, table, version_at_timestamp(spark, table, ts_unix))


def snapshot_count(
    spark: SparkSession, table: str, version: int | None = None
) -> int:
    """``COUNT(*)`` from parquet FOOTERS only — Delta's metadata-only
    count: O(files) footer reads (kilobytes each), zero data I/O, no
    Spark job. At 100 TB this answers the most common query against a
    table without touching a single data page. Falls back to a real
    distributed count when any file is non-local or unreadable (remote
    object stores want a ranged footer fetch this sandbox can't do) —
    callers always get the exact answer either way."""
    v, m = tablelog.pin(table, version, spark)
    files = m["files"]
    # merge-on-read deletes stay metadata-only too: the manifest records
    # the dead-row count per file, so COUNT = footer rows - cardinality
    dead = (m.get("dv") or {}).get("cardinality") or {}
    try:
        import pyarrow.parquet as pq

        total = 0
        for uri in files:
            path = tablelog.local_path(uri)
            if path is None:
                raise OSError("non-local file")
            total += pq.ParquetFile(path).metadata.num_rows
        return total - sum(dead.get(f, 0) for f in files)
    except (ImportError, OSError):
        return snapshot_read(spark, table, v).count()


def snapshot_changes(
    spark: SparkSession,
    table: str,
    key_cols: list[str],
    v_from: int,
    v_to: int | None = None,
) -> DataFrame:
    """Change data feed between two committed versions — the
    ``table_changes(t, v_from, v_to)`` analog: one row per key whose
    content differs, with status 'added' / 'removed' / 'changed'
    (operators/quality.py::snapshot_diff does the null-safe keyed
    compare via portable length-prefixed row hashes). Because versions
    are immutable, the feed is reproducible forever — until ``vacuum``
    drops the older version. Both sides are plain manifest-pinned
    parquet scans; the diff is one full-outer hash join on the keys."""
    from bookstore_aws_lakehouse_spark.operators.quality import snapshot_diff

    old = snapshot_read(spark, table, v_from)
    new = snapshot_read(spark, table, v_to)
    return snapshot_diff(old, new, key_cols)


def vacuum(
    spark: SparkSession,
    table: str,
    keep_last: int = 1,
    retain_seconds: float | None = None,
    orphan_age_seconds: float | None = None,
) -> int:
    """Drop expired versions and delete every data file no surviving
    version references (the VACUUM analog; bounds time-travel storage).
    Returns the number of files deleted.

    Retention composes two policies, keeping the UNION (a version
    survives if either rule keeps it — never less retention than asked):
    the newest ``keep_last`` versions always survive, and with
    ``retain_seconds`` every version committed within that window of the
    newest commit's time also survives (Delta's ``RETAIN n HOURS`` —
    time-based, against the log's own clock so a paused table doesn't
    expire everything on resume).

    ``orphan_age_seconds`` additionally reclaims UNTRACKED files — data
    parquet / DV sidecars under the table that no manifest of any
    surviving version references. Crash debris is the only way these
    arise: a writer that died between ``_write_data_files`` and its
    manifest link leaves a ``tx-`` directory no commit ever named, and
    no version expiry can ever reclaim it (expiry only walks manifests).
    Delta's VACUUM removes such untracked files past retention for the
    same reason. Age-gated by mtime so an IN-FLIGHT commit's
    just-written files are never yanked before its manifest lands —
    choose a gate longer than the slowest write job (Delta's default is
    7 days); ``None`` (the default) skips the orphan scan entirely."""
    if keep_last < 1:
        raise ValueError("vacuum must keep at least the latest version")
    versions = list_versions(spark, table)
    n_keep = keep_last
    if retain_seconds is not None and versions:
        newest_ts = _read_manifest(spark, table, versions[-1]).get(
            "committed_at_unix", 0.0
        )
        cutoff = newest_ts - retain_seconds
        in_window = [
            v
            for v in versions
            if _read_manifest(spark, table, v).get("committed_at_unix", 0.0)
            >= cutoff
        ]
        n_keep = max(keep_last, len(in_window))
    kept, dropped = versions[-n_keep:], versions[:-n_keep]
    referenced = set()
    for v in kept:
        m = _read_manifest(spark, table, v)
        referenced.update(m["files"])
        referenced.update((m.get("dv") or {}).get("sidecars") or [])
    doomed = set()
    for v in dropped:
        m = _read_manifest(spark, table, v)
        doomed.update(m["files"])
        # DV sidecars refcount exactly like data files: reclaimed when no
        # surviving version lists them
        doomed.update((m.get("dv") or {}).get("sidecars") or [])
    doomed -= referenced
    # OWNERSHIP guard: a table only ever deletes data under its own root.
    # A shallow clone (snapshot_clone) references the SOURCE table's
    # files — expiring the clone's history must never reach into the
    # source's directory (the clone doesn't own those bytes).
    own_root = tablelog.norm_uri(table).rstrip("/") + "/"
    doomed = {f for f in doomed if tablelog.norm_uri(f).startswith(own_root)}
    fs, _, jvm = _fs(spark, table)
    for f in sorted(doomed):
        fs.delete(jvm.org.apache.hadoop.fs.Path(f), False)
    for v in dropped:
        fs.delete(
            jvm.org.apache.hadoop.fs.Path(tablelog.manifest_path(table, v)), False
        )
    # crash janitoring for the atomic-publish protocol: a writer that died
    # between writing a ``v*.json.tmp-*`` payload and linking it is the
    # only way a tmp file outlives its commit attempt — no live commit
    # references one (readers filter on ``.json``). Age-gated (10 min by
    # mtime) so a LIVE writer's microseconds-old tmp is never yanked
    # between its write and its link. Not counted in the data-file total.
    mdir = jvm.org.apache.hadoop.fs.Path(
        f"{table.rstrip('/')}/{_MANIFEST_DIR}"
    )
    if fs.exists(mdir):
        cutoff_ms = (time.time() - 600) * 1000
        for st in fs.listStatus(mdir):
            if (
                ".tmp-" in st.getPath().getName()
                and st.getModificationTime() < cutoff_ms
            ):
                fs.delete(st.getPath(), False)
    n_deleted = len(doomed)
    if orphan_age_seconds is not None:
        # re-list AFTER the expiry deletes: the tracked set must reflect
        # every manifest that still exists, including any version a
        # concurrent writer committed while this vacuum ran (its fresh
        # files are also mtime-protected — two independent guards)
        tracked = set()
        for v in list_versions(spark, table):
            m = _read_manifest(spark, table, v)
            tracked.update(
                tablelog.norm_uri(f)
                for f in m["files"] + ((m.get("dv") or {}).get("sidecars") or [])
            )
        orphan_cutoff_ms = (time.time() - orphan_age_seconds) * 1000
        for sub in (_DATA_DIR, _DV_DIR):
            root = jvm.org.apache.hadoop.fs.Path(f"{table.rstrip('/')}/{sub}")
            if not fs.exists(root):
                continue
            it = fs.listFiles(root, True)  # recursive: tx-*/part-*
            while it.hasNext():
                st = it.next()
                p = st.getPath()
                if tablelog.norm_uri(p.toString()) in tracked:
                    continue
                if st.getModificationTime() >= orphan_cutoff_ms:
                    continue  # could be an in-flight commit's file
                fs.delete(p, False)
                n_deleted += 1
    return n_deleted


# ---- bloom-filter file index: point-lookup skipping -----------------------
#
# Min/max stats prune RANGE predicates on the clustered column; they are
# useless for point lookups on any OTHER high-cardinality column (every
# file's [min, max] spans most of the key space). A per-file Bloom filter
# answers "can this file contain value v?" in O(k) bit probes — Delta/
# Iceberg ship the same idea as bloom-filter indexes / puffin blobs. The
# build is one distributed scan (groupBy file — map-side combinable set
# agg); the probe is metadata-only at plan time. Hashing is single-sourced
# in the JVM (xxhash64(value, seed)): the probe computes the lookup
# value's bit positions through the SAME Spark expression as the build,
# so there is no Python reimplementation to drift.


def _bloom_positions_expr(value_col, num_bits: int, num_hashes: int):
    """array<int> of the k bit positions for one value — build and probe
    both evaluate exactly this expression."""
    return F.array(
        *[
            F.pmod(F.xxhash64(value_col, F.lit(i)), F.lit(num_bits)).cast("int")
            for i in range(num_hashes)
        ]
    )


def snapshot_bloom_index(
    spark: SparkSession,
    table: str,
    column: str,
    num_bits: int = 8192,
    num_hashes: int = 5,
) -> int:
    """Build per-file Bloom filters for ``column`` over the tip snapshot
    and commit them as an ``index`` version (same files, same stats —
    only metadata changes). ``snapshot_point_lookup`` then skips files
    whose filter proves the value absent. NULLs are not represented
    (point lookups are non-null by contract); files whose every value is
    NULL simply get no entry and are conservatively read.

    Scale: the build scans the table once and shuffles at most
    ``num_bits`` distinct positions per (file, column) — kilobytes per
    file; the driver materializes one ``num_bits/8``-byte bitset per
    file into the manifest, so size ``num_bits`` against the expected
    file count (8 KiB × 10k files = 80 MB of manifest — prefer a larger
    ``num_bits`` only for genuinely hot lookup columns). Bloom entries
    are per-file facts about immutable files, so EVERY commit inherits
    the tip's entries for files it still references (see ``_commit``) —
    merges/deletes/optimizes keep carried files indexed; only new or
    rewritten files are unindexed (conservatively read) until the next
    ``snapshot_bloom_index`` run.
    False-positive rate ≈ (1 - e^(-k·n/m))^k — at the defaults, ~2% for
    1k distinct values per file."""
    if num_bits % 8:
        raise ValueError("num_bits must be a multiple of 8")
    tip, manifest = tablelog.pin(table, spark=spark)
    schema = StructType.fromJson(manifest["schema"])
    if column not in schema.names:
        raise ValueError(f"column {column!r} not in table schema {schema.names}")
    files = manifest["files"]
    blooms = dict(manifest.get("file_blooms") or {})
    mapping = manifest.get("column_mapping") or {}
    if files:
        scan = (
            spark.read.schema(_physical_schema(schema, mapping))
            .parquet(*files)
            .select(
                F.input_file_name().alias("_f"),
                F.col(mapping.get(column, column)).alias("_v"),
            )
            .where(F.col("_v").isNotNull())
        )
        per_file = (
            scan.select(
                "_f",
                F.explode(
                    _bloom_positions_expr(F.col("_v"), num_bits, num_hashes)
                ).alias("_p"),
            )
            .groupBy("_f")
            .agg(F.collect_set("_p").alias("_ps"))
        )
        by_norm = {tablelog.norm_uri(f): f for f in files}
        for row in per_file.collect():  # O(files) rows — manifest-sized
            f = by_norm.get(tablelog.norm_uri(row["_f"]))
            if f is None:
                continue
            bits = bytearray(num_bits // 8)
            for p in row["_ps"]:
                bits[p >> 3] |= 1 << (p & 7)
            entry = dict(blooms.get(f) or {})
            entry[column] = {"m": num_bits, "k": num_hashes, "bits": bits.hex()}
            blooms[f] = entry
    df = snapshot_read(spark, table, tip)
    return _commit(
        df,
        table,
        "index",
        files,
        manifest.get("file_stats"),
        expected_version=tip + 1,
        schema=schema,
        file_blooms=blooms,
    )


def _bloom_may_contain(entry: dict, positions_by_cfg: dict) -> bool:
    """Probe one file's bloom entry with the precomputed positions for
    its (m, k) config. Unknown config (not precomputed) → conservative
    True."""
    pos = positions_by_cfg.get((entry["m"], entry["k"]))
    if pos is None:
        return True
    bits = bytes.fromhex(entry["bits"])
    return all(bits[p >> 3] & (1 << (p & 7)) for p in pos)


def _point_lookup_files(
    spark: SparkSession, table: str, column: str, values, version: int | None
) -> tuple[list[str], list[str], StructType, dict]:
    """Scan planning for a point/IN lookup (``values``: one value or a
    list): (files to read, all tip files, pinned schema, manifest). Pruning
    composes BOTH metadata layers — min/max stats (range check) and the
    bloom index (membership check, a file survives if ANY value may be
    present); a file must survive both to be read, and files missing
    either layer pass that layer conservatively."""
    if not isinstance(values, (list, tuple)):
        values = [values]
    _, manifest = tablelog.pin(table, version, spark)
    schema = StructType.fromJson(manifest["schema"])
    if column not in schema.names:
        raise ValueError(f"column {column!r} not in table schema {schema.names}")
    dtype = schema[column].dataType
    stats = manifest.get("file_stats") or {}
    blooms = manifest.get("file_blooms") or {}
    cfgs = {
        (e[column]["m"], e[column]["k"])
        for e in blooms.values()
        if column in e
    }
    # one local job per distinct (m, k) config — normally exactly one —
    # evaluates the BUILD's hash expression on every lookup value at once
    positions_by_cfg: dict[tuple, list[list[int]]] = {}
    for m, k in cfgs:
        row = (
            spark.range(1)
            .select(
                F.array(
                    *[
                        _bloom_positions_expr(F.lit(val).cast(dtype), m, k)
                        for val in values
                    ]
                ).alias("p")
            )
            .head()
        )
        positions_by_cfg[(m, k)] = [list(p) for p in row["p"]]

    probe = {column: {"values": list(values)}}

    def keep(f: str) -> bool:
        if not tablelog.file_may_match(stats.get(f, {}), probe):
            return False
        entry = blooms.get(f, {}).get(column)
        if entry is not None and not any(
            _bloom_may_contain(
                entry,
                {cfg: plist[i] for cfg, plist in positions_by_cfg.items()},
            )
            for i in range(len(values))
        ):
            return False
        return True

    return (
        [f for f in manifest["files"] if keep(f)],
        manifest["files"],
        schema,
        manifest,
    )


def snapshot_point_lookup(
    spark: SparkSession,
    table: str,
    column: str,
    value,
    version: int | None = None,
) -> DataFrame:
    """``SELECT * FROM t WHERE column = value`` with whole-file skipping:
    files are pruned via the manifest's min/max stats AND the bloom index
    (``snapshot_bloom_index``) before Spark ever plans the scan, then the
    equality filter runs on the survivors (so the result is exactly the
    filtered read — pruning is an optimization, never a semantics
    change). The 100 TB shape: a needle-in-haystack key probe touches
    O(matching files + false positives) instead of every file."""
    if value is None:
        raise ValueError("point lookup value must be non-null (use stats' "
                         "has_null via snapshot_scan for IS NULL probes)")
    files, _all, schema, manifest = _point_lookup_files(
        spark, table, column, value, version
    )
    pred = F.col(column) == F.lit(value).cast(schema[column].dataType)
    return _read_data_files(spark, schema, files, manifest).filter(pred)


def snapshot_in_lookup(
    spark: SparkSession,
    table: str,
    column: str,
    values: list,
    version: int | None = None,
) -> DataFrame:
    """``SELECT * FROM t WHERE column IN (...)`` with whole-file skipping:
    the multi-needle sibling of :func:`snapshot_point_lookup` — a file is
    read iff stats/bloom say it may hold ANY of the values (all probe
    positions come from ONE local hashing job). The batched-key-fetch
    shape: resolving a 100-key worklist against a 100 TB table touches
    the union of the keys' files, not the table."""
    vals = [v for v in values]
    if not vals or any(v is None for v in vals):
        raise ValueError("IN lookup needs a non-empty list of non-null values")
    files, _all, schema, manifest = _point_lookup_files(
        spark, table, column, vals, version
    )
    pred = F.col(column).isin([v for v in vals])
    return _read_data_files(spark, schema, files, manifest).filter(pred)


# ---- table constraints (CHECK / NOT NULL analog) --------------------------


def snapshot_add_constraint(
    spark: SparkSession, table: str, name: str, expression: str
) -> int:
    """ALTER TABLE ... ADD CONSTRAINT ... CHECK (expression): the
    constraint is first proven against the CURRENT table (one scan — a
    constraint you can't trust on existing data is worthless), then
    committed as a metadata-only ``set_constraint`` version. From that
    version on, every data-adding commit (append / merge / partitioned
    merge / overwrite) validates its DELTA against all active
    constraints before writing a single file — O(commit), never the
    table — and rejects with :class:`SnapshotConstraintError` on any
    FALSE row (NULL passes, SQL CHECK semantics). Express NOT NULL as
    ``col IS NOT NULL``."""
    tip, manifest = tablelog.pin(table, spark=spark)
    active = dict(manifest.get("constraints") or {})
    if name in active:
        raise ValueError(f"constraint {name!r} already exists: {active[name]}")
    _validate_constraints(snapshot_read(spark, table, tip), {name: expression})
    active[name] = expression
    return _set_constraints(spark, table, tip, manifest, active)


def snapshot_drop_constraint(spark: SparkSession, table: str, name: str) -> int:
    """ALTER TABLE ... DROP CONSTRAINT: metadata-only commit removing the
    named constraint from the active set."""
    tip, manifest = tablelog.pin(table, spark=spark)
    active = dict(manifest.get("constraints") or {})
    if name not in active:
        raise ValueError(f"no constraint named {name!r} (have {sorted(active)})")
    del active[name]
    return _set_constraints(spark, table, tip, manifest, active)


def _set_constraints(
    spark: SparkSession, table: str, tip: int, manifest: dict, active: dict
) -> int:
    """Metadata-only commit of ``active`` as the constraint set over the
    tip ``manifest`` (version ``tip``)."""
    manifest2 = tablelog.compose(
        manifest,
        "set_constraint",
        manifest["files"],
        manifest["schema"],
        constraints=active,
    )
    return _try_commit(spark, table, manifest2, expected_version=tip + 1)


def _rekeyed(manifest: dict, key: str, old: str, new: str | None) -> dict:
    """``manifest[key]`` — per-file metadata keyed by LOGICAL column
    (stats, blooms) — with column ``old`` renamed to ``new``, or dropped
    when ``new`` is None."""
    return {
        f: {
            (new if c == old else c): v
            for c, v in per.items()
            if c != old or new is not None
        }
        for f, per in (manifest.get(key) or {}).items()
    }


def _constraints_referencing(constraints: dict, col: str) -> list[str]:
    import re as _re

    pat = _re.compile(rf"(?<![A-Za-z0-9_]){_re.escape(col)}(?![A-Za-z0-9_])",
                      _re.IGNORECASE)
    return sorted(n for n, expr in (constraints or {}).items() if pat.search(expr))


def snapshot_rename_column(
    spark: SparkSession, table: str, old: str, new: str
) -> int:
    """``ALTER TABLE t RENAME COLUMN old TO new`` as a METADATA-ONLY
    commit (Delta column mapping, name mode): data files keep the column
    under its physical name — frozen at column birth — and only the
    manifest's logical schema and ``column_mapping`` change, so the op
    is one JSON write at any table size. Writers translate
    logical→physical before writing; readers translate back; stats and
    bloom keys are rewritten to the new logical name in the same commit
    (the manifest metadata namespace is logical). Renaming a column a
    CHECK constraint references is refused — the stored expression would
    silently stop binding (drop the constraint first, re-add against the
    new name)."""
    for _ in range(3):
        tip, manifest = tablelog.pin(table, spark=spark)
        schema = StructType.fromJson(manifest["schema"])
        if old not in schema.names:
            raise ValueError(f"no column {old!r} in {table} ({schema.names})")
        if new in schema.names:
            raise ValueError(f"column {new!r} already exists in {table}")
        mapping = dict(manifest.get("column_mapping") or {})
        retired = list(manifest.get("retired_physical") or [])
        phys_in_use = {mapping.get(f.name, f.name) for f in schema.fields}
        if new in (phys_in_use - {mapping.get(old, old)}) or new in retired:
            raise ValueError(
                f"logical name {new!r} collides with a physical column name "
                f"in {table}'s data files — pick a different name"
            )
        refs = _constraints_referencing(manifest.get("constraints"), old)
        if refs:
            raise ValueError(
                f"column {old!r} is referenced by CHECK constraint(s) {refs} "
                f"— drop them before renaming, then re-add against {new!r}"
            )
        # first rename seeds identity entries so every column's physical
        # name is explicit from here on
        if not mapping:
            mapping = {f.name: f.name for f in schema.fields}
        mapping[new] = mapping.pop(old, old)
        fields = [
            StructField(new, f.dataType, f.nullable, f.metadata)
            if f.name == old
            else f
            for f in schema.fields
        ]
        # manifest metadata is logical-keyed: move old → new in place
        manifest2 = tablelog.compose(
            manifest,
            "rename_column",
            manifest["files"],
            json.loads(StructType(fields).json()),
            file_stats=_rekeyed(manifest, "file_stats", old, new),
            file_blooms=_rekeyed(manifest, "file_blooms", old, new),
            column_mapping=mapping,
        )
        manifest2["renamed"] = {"from": old, "to": new}
        try:
            return _try_commit(spark, table, manifest2, expected_version=tip + 1)
        except SnapshotConflictError:
            continue
    raise SnapshotConflictError(
        f"rename_column on {table} lost 3 consecutive races"
    )


def snapshot_drop_column(spark: SparkSession, table: str, col: str) -> int:
    """``ALTER TABLE t DROP COLUMN col`` as a METADATA-ONLY commit: the
    logical field leaves the schema and its physical name is RETIRED —
    the bytes stay in the files (parquet column pruning means they are
    never read again; a rewrite op like OPTIMIZE sheds them physically),
    and a future column may reuse the logical name only if it never
    served as a physical name (`retired_physical` guard in the write
    path), so historic data can't resurrect under a re-added column.
    Refused while a CHECK constraint references the column."""
    for _ in range(3):
        tip, manifest = tablelog.pin(table, spark=spark)
        schema = StructType.fromJson(manifest["schema"])
        if col not in schema.names:
            raise ValueError(f"no column {col!r} in {table} ({schema.names})")
        if len(schema.fields) == 1:
            raise ValueError("cannot drop a table's only column")
        refs = _constraints_referencing(manifest.get("constraints"), col)
        if refs:
            raise ValueError(
                f"column {col!r} is referenced by CHECK constraint(s) {refs} "
                f"— drop them first"
            )
        mapping = dict(manifest.get("column_mapping") or {})
        if not mapping:
            mapping = {f.name: f.name for f in schema.fields}
        phys = mapping.pop(col, col)
        retired = list(manifest.get("retired_physical") or []) + [phys]
        fields = [f for f in schema.fields if f.name != col]
        manifest2 = tablelog.compose(
            manifest,
            "drop_column",
            manifest["files"],
            json.loads(StructType(fields).json()),
            file_stats=_rekeyed(manifest, "file_stats", col, None),
            file_blooms=_rekeyed(manifest, "file_blooms", col, None),
            column_mapping=mapping,
        )
        manifest2.update(dropped=col, retired_physical=retired)
        try:
            return _try_commit(spark, table, manifest2, expected_version=tip + 1)
        except SnapshotConflictError:
            continue
    raise SnapshotConflictError(
        f"drop_column on {table} lost 3 consecutive races"
    )


def snapshot_delete_where(
    spark: SparkSession, table: str, predicate: str
) -> int:
    """``DELETE FROM t WHERE predicate`` for ARBITRARY predicates: keeps
    the complement (NULL-predicate rows are KEPT, SQL DELETE semantics)
    and commits it as a full rewrite. This is the general-but-unpruned
    path — when the predicate is a range on a stats-covered column, use
    :func:`snapshot_delete`, which rewrites only the files whose stats
    can match and carries the rest by identity. Constraints and carried
    bloom entries inherit via the normal commit path (rewritten files
    are unindexed until re-index)."""
    for _ in range(3):
        versions = list_versions(spark, table)
        if not versions:
            raise FileNotFoundError(f"no snapshot manifests under {table}")
        kept = snapshot_read(spark, table, versions[-1]).filter(
            ~F.coalesce(F.expr(predicate), F.lit(False))
        )
        files = _write_data_files(kept, table)
        try:
            # state-DEPENDENT: the rewrite was computed from versions[-1],
            # so claim exactly the next number — a racer's commit must
            # trigger a recompute, not be silently erased
            return _commit(
                kept, table, "delete", files,
                expected_version=versions[-1] + 1,
            )
        except SnapshotConflictError:
            _delete_files(spark, files)
            continue
    raise SnapshotConflictError(
        f"delete on {table} lost 3 consecutive races — retry under lower "
        f"write concurrency"
    )


def snapshot_update(
    spark: SparkSession,
    table: str,
    set_exprs: dict[str, str],
    where: str | None = None,
) -> int:
    """``UPDATE t SET col = expr, ... [WHERE predicate]``: rows matching
    the predicate (NULL = no match, SQL semantics) get every ``set_exprs``
    column recomputed; all other rows carry unchanged. Committed as a
    full rewrite through the normal path, so active CHECK constraints
    validate the UPDATED table content before it replaces the tip —
    an UPDATE cannot sneak a violating value past ADD CONSTRAINT. For
    key-addressed upserts prefer :func:`snapshot_merge` /
    :func:`snapshot_merge_partitioned` (file-pruned); this is the
    predicate-addressed form."""
    versions = list_versions(spark, table)
    if not versions:
        raise FileNotFoundError(f"no snapshot manifests under {table}")
    df = snapshot_read(spark, table, versions[-1])
    for col in set_exprs:
        if col not in df.columns:
            raise ValueError(f"UPDATE of unknown column {col!r} ({df.columns})")
    hit = (
        F.coalesce(F.expr(where), F.lit(False)) if where is not None else F.lit(True)
    )
    updated = df.select(
        *[
            F.when(hit, F.expr(set_exprs[c])).otherwise(F.col(c)).alias(c)
            if c in set_exprs
            else F.col(c)
            for c in df.columns
        ]
    )
    # UPDATE never changes a column's type: the when/otherwise coercion can
    # silently widen a SET column (int col = double expr), and committing
    # df.schema while the files carry updated's types would make the
    # manifest schema lie about the parquet data. Validate and refuse —
    # the caller CASTs explicitly if a type change is intended.
    for f_old, f_new in zip(df.schema.fields, updated.schema.fields):
        if f_old.dataType != f_new.dataType:
            raise ValueError(
                f"UPDATE SET expression changes column {f_old.name!r} from "
                f"{f_old.dataType.simpleString()} to "
                f"{f_new.dataType.simpleString()} — UPDATE preserves column "
                f"types; add an explicit CAST(... AS "
                f"{f_old.dataType.simpleString()}) to the SET expression"
            )
    _validate_constraints(updated, _tip_constraints(spark, table))
    for _ in range(3):
        files = _write_data_files(updated, table)
        try:
            # state-DEPENDENT: computed from versions[-1] — claim exactly
            # the next number so a racer forces a recompute
            return _commit(
                updated, table, "update", files,
                schema=df.schema,
                expected_version=versions[-1] + 1,
            )
        except SnapshotConflictError:
            _delete_files(spark, files)
            versions = list_versions(spark, table)
            df = snapshot_read(spark, table, versions[-1])
            updated = df.select(
                *[
                    F.when(hit, F.expr(set_exprs[c])).otherwise(F.col(c)).alias(c)
                    if c in set_exprs
                    else F.col(c)
                    for c in df.columns
                ]
            )
            # The racer's commit may have appended rows or added constraints
            # since the pre-race validation: re-run the type-drift check and
            # CHECK validation on the RECOMPUTED frame, or a retry could
            # commit rows the first pass never saw, unvalidated.
            for f_old, f_new in zip(df.schema.fields, updated.schema.fields):
                if f_old.dataType != f_new.dataType:
                    raise ValueError(
                        f"UPDATE SET expression changes column {f_old.name!r} "
                        f"from {f_old.dataType.simpleString()} to "
                        f"{f_new.dataType.simpleString()} — UPDATE preserves "
                        f"column types; add an explicit CAST(... AS "
                        f"{f_old.dataType.simpleString()}) to the SET "
                        f"expression"
                    )
            _validate_constraints(updated, _tip_constraints(spark, table))
            continue
    raise SnapshotConflictError(
        f"update on {table} lost 3 consecutive races — retry under lower "
        f"write concurrency"
    )


def snapshot_delete_dv(
    spark: SparkSession,
    table: str,
    predicate: str | None = None,
    *,
    column: str | None = None,
    lo=None,
    hi=None,
    extra_condition: str | None = None,
) -> int:
    """``DELETE FROM t WHERE predicate`` as a MERGE-ON-READ commit
    (Delta's deletion vectors / Iceberg's position deletes): no data file
    is rewritten — the commit writes parquet sidecars of dead
    (file, row-position) pairs plus one manifest, so the write cost is
    proportional to the rows DELETED, not the rows kept. At 100 TB this
    is the difference between a kilobyte commit and re-writing every
    touched gigabyte; the copy-on-write forms (:func:`snapshot_delete`,
    :func:`snapshot_delete_where`) stay the right tool when a delete
    guts whole files. SQL semantics: a NULL predicate never matches.

    Readers subtract the vectors in the shared read path
    (``_read_data_files``); ``snapshot_count`` stays metadata-only
    (footer rows minus recorded cardinality); ``snapshot_purge_dv`` /
    ``snapshot_optimize`` fold vectors back into rewritten files.
    Repeated MoR deletes compose: matching runs on the DV-applied view,
    so a position is recorded at most once and cardinalities add.
    Returns the committed version (the current tip when nothing
    matched — no empty commit).

    Two predicate forms, matching :func:`snapshot_delete`: an arbitrary
    ``predicate`` string scans every file (row-group pruning still
    applies via pushdown — Delta's DV delete has the same shape), or
    the RANGED form ``column``/``lo``/``hi`` [+ ``extra_condition``]
    where files whose manifest stats prove the range can't match are
    never opened at all — sound by construction, because pruning uses
    exactly the range that is ANDed into the match predicate."""
    if (predicate is None) == (column is None):
        raise ValueError(
            "pass exactly one of: predicate=<sql>, or column/lo/hi"
        )
    if column is not None:
        pred = (F.col(column) >= F.lit(lo)) & (F.col(column) <= F.lit(hi))
        if extra_condition is not None:
            pred = pred & F.expr(extra_condition)
    else:
        pred = F.expr(predicate)
    for _ in range(3):
        tip_v, manifest = tablelog.pin(table, spark=spark)
        schema = StructType.fromJson(manifest["schema"])
        files = manifest["files"]
        # scan_files is what we OPEN to find matches; the commit always
        # references the FULL file list — pruning must never leak into
        # the manifest
        scan_files = files
        if column is not None:
            # whole-file skipping: a file whose [min, max] for `column`
            # cannot intersect [lo, hi] cannot hold a matching row
            scan_files = tablelog.prune(
                files, manifest.get("file_stats"), {column: {"lo": lo, "hi": hi}}
            )
        if not scan_files:
            return tip_v
        # scan WITH row positions, existing vectors already subtracted —
        # a row deleted twice must not be recorded twice. Column-mapped
        # tables read by PHYSICAL name and rename back so the user's
        # predicate binds to logical columns.
        mapping = manifest.get("column_mapping") or {}
        back = {p: l for l, p in mapping.items() if p != l}
        tagged = (
            spark.read.schema(_physical_schema(schema, mapping))
            .parquet(*scan_files)
            .select(
                "*",
                _dv_norm_path_expr(F.col("_metadata.file_path")).alias(
                    "__dv_file"
                ),
                F.col("_metadata.row_index").alias("__dv_pos"),
            )
        )
        if back:
            tagged = tagged.withColumnsRenamed(back)
        prior = _dv_union_df(spark, manifest)
        if prior is not None:
            cond = (tagged["__dv_file"] == prior["file"]) & (
                tagged["__dv_pos"] == prior["pos"]
            )
            tagged = tagged.join(F.broadcast(prior), cond, "left_anti")
        matched = tagged.filter(F.coalesce(pred, F.lit(False))).select(
            F.col("__dv_file").alias("file"), F.col("__dv_pos").alias("pos")
        )
        new_sidecars = _write_data_files(matched, table, subdir=_DV_DIR)
        if not new_sidecars:  # nothing matched: no commit
            return tip_v
        # per-file dead counts come from the just-written sidecars — a
        # deleted-rows-sized read — NOT a second evaluation of the
        # matched plan (which would re-run the full table scan + anti-join)
        new_card = {
            r["file"]: r["n"]
            for r in spark.read.schema("file string, pos bigint")
            .parquet(*new_sidecars)
            .groupBy("file")
            .agg(F.count("*").alias("n"))
            .collect()
        }
        prev_dv = manifest.get("dv") or {}
        prev_card = prev_dv.get("cardinality") or {}
        # sidecar "file" values are normalized paths; manifest files may
        # carry a scheme — key cardinality by the MANIFEST spelling so
        # _commit inheritance (keyed on manifest file names) works
        norm_to_manifest = {tablelog.norm_uri(f): f for f in files}
        card = dict(prev_card)
        for nf, n in new_card.items():
            mf = norm_to_manifest.get(nf, nf)
            card[mf] = card.get(mf, 0) + n
        dv = {
            "sidecars": (prev_dv.get("sidecars") or []) + new_sidecars,
            "cardinality": card,
        }
        placeholder = spark.createDataFrame([], schema)
        try:
            return _commit(
                placeholder,
                table,
                "delete_dv",
                files,
                manifest.get("file_stats"),
                expected_version=tip_v + 1,
                dv=dv,
            )
        except SnapshotConflictError:
            _delete_files(spark, new_sidecars)
            continue
    raise SnapshotConflictError(
        f"delete_dv on {table} lost 3 consecutive races — retry under lower "
        f"write concurrency"
    )


def snapshot_zorder(
    spark: SparkSession,
    table: str,
    zorder_cols: list[str],
    target_file_bytes: int = 128 << 20,
    bits: int = 8,
) -> int:
    """``OPTIMIZE t ZORDER BY (c1, c2, ...)`` — rewrite the table's data
    files clustered on the Morton (Z-order) interleaving of the given
    columns, so per-file min/max stats become tight on EVERY zorder
    column at once and stats-pruned scans (:func:`snapshot_scan`, the
    DataSource's pushed-filter pruning) skip files for predicates on any
    of them. Linear clustering (``snapshot_optimize(cluster_col=...)``)
    buys pruning on one column and destroys it on the rest; Z-order is
    the multi-dimensional version Delta/Iceberg ship for exactly the
    100 TB problem: a fact table queried by several independent keys.

    Spark-first shape, no driver-side data: per column, equi-depth
    bucket boundaries come from ``approxQuantile`` (one distributed
    pass, Greenwald-Khanna); each row's bucket id is computed map-side
    with a JVM higher-order ``aggregate`` over the broadcast-literal
    boundary array; the Z-value interleaves the bucket bits with pure
    integer arithmetic (shift/AND — whole-stage codegen); the rewrite is
    ``repartitionByRange + sortWithinPartitions`` on the Z-value. Data
    content is byte-identical (layout-only commit, op ``optimize``);
    deletion vectors fold into the rewrite like OPTIMIZE. Stats are
    re-collected for the union of previously-tracked columns and the
    zorder columns. NULLs sort into bucket 0 (files holding a column's
    NULLs keep ``has_null`` so NULL-probes stay correct).

    Numeric, timestamp and date columns (temporal columns bucket on
    their epoch seconds, and their per-file stats ride the manifest as
    canonical ISO strings — ``_stat_norm``); raise on anything else
    rather than silently hash-bucketing.

    Relation to ``writers.zorder_value`` / ``write_parquet_zordered``:
    those interleave the RAW low bits of two non-negative int columns at
    write time (no table format needed); this is the table-format
    OPTIMIZE — equi-depth bucketing handles arbitrary numeric
    distributions (skew, floats, negatives), takes 1-4 columns, folds
    deletion vectors, re-collects manifest stats, and commits
    layout-only history.
    """
    if not zorder_cols or len(zorder_cols) > 4:
        raise ValueError("zorder takes 1-4 columns")
    if bits * len(zorder_cols) > 62:
        raise ValueError("bits * n_cols must fit a signed 64-bit Z-value")
    for _ in range(3):
        tip_v, manifest = tablelog.pin(table, spark=spark)
        schema = StructType.fromJson(manifest["schema"])
        dtype_of = {f.name: f.dataType.simpleString() for f in schema.fields}
        orderable = {
            name
            for name, dt in dtype_of.items()
            if dt
            in (
                "tinyint", "smallint", "int", "bigint", "float", "double",
                # timestamps/dates bucket on their epoch seconds — the
                # single most common Z-order dimension in practice (an
                # events fact queried by time AND entity); their file
                # stats ride the manifest as canonical ISO strings
                # (_stat_norm), so the pruned scans work end-to-end
                "timestamp", "timestamp_ntz", "date",
            )
            or dt.startswith("decimal")
        }
        missing = [c for c in zorder_cols if c not in schema.names]
        if missing:
            raise ValueError(f"zorder column(s) {missing} not in {schema.names}")
        non_num = [c for c in zorder_cols if c not in orderable]
        if non_num:
            raise ValueError(
                f"zorder column(s) {non_num} are not numeric/temporal — "
                f"Z-order bucketing uses approxQuantile; cast or derive a "
                f"numeric sort key first"
            )

        def _as_num(c: str):
            col = F.col(c)
            if dtype_of[c] in ("date", "timestamp_ntz"):
                # neither casts to double directly; the hop goes through
                # session-TZ timestamp. Bucket QUALITY could wobble at a
                # DST fold under a non-UTC session TZ, but never
                # correctness — stats are re-collected from actual values
                col = col.cast("timestamp")
            return col.cast("double")  # timestamp → epoch seconds
        if not manifest["files"]:
            return tip_v
        df = _read_data_files(spark, schema, manifest["files"], manifest)
        n_buckets = 1 << bits
        probs = [i / n_buckets for i in range(1, n_buckets)]
        # one distributed GK pass for ALL columns' boundaries; decimals
        # are pre-cast (approxQuantile's numeric domain excludes them)
        qdf = df.select(
            *[_as_num(c).alias(f"_q{i}") for i, c in enumerate(zorder_cols)]
        )
        all_bnds = qdf.approxQuantile(
            [f"_q{i}" for i in range(len(zorder_cols))], probs, 0.001
        )
        z = None
        for ci, (col, bnds) in enumerate(zip(zorder_cols, all_bnds)):
            # all-NULL column (GK sees no values): every row buckets to 0
            uniq = sorted({b for b in bnds if b is not None})
            if not uniq:
                bucket = F.lit(0)
            else:
                # rank = |{b in uniq : b <= v}| via a power-of-two upper-
                # bound binary search (classic Fenwick stepping) instead
                # of a linear fold over all |uniq| boundaries: the rank is
                # IDENTICAL (same bucket ids, same layout) but each row
                # pays O(log |uniq|) comparisons instead of O(|uniq|) —
                # at 255 boundaries that is ~30x less per-row compute, and
                # the z-value is evaluated TWICE per rewrite (once in
                # repartitionByRange's sampling pass, once in the shuffle
                # map stage), so the fold was the rewrite's hottest
                # expression (guide §1.2: fix the per-task work). The
                # boundary array is ONE array literal (F.lit(list)), not
                # |uniq| py4j Column calls — the old construction alone
                # cost ~0.5 s of driver time per column at 255 boundaries.
                # NULL values: the comparison is NULL, the WHEN falls to
                # otherwise(lo), rank stays 0 — exactly the old fold's
                # NULL behaviour (NULLs bucket to 0).
                m = len(uniq)
                arr = F.lit([float(b) for b in uniq])
                powers = [1 << i for i in range(m.bit_length() - 1, -1, -1)]
                vnum = _as_num(col)
                raw = F.aggregate(
                    F.lit(powers),
                    F.lit(0),
                    lambda lo, p: F.when(
                        (lo + p <= F.lit(m))
                        & (F.element_at(arr, (lo + p).cast("int")) <= vnum),
                        lo + p,
                    ).otherwise(lo),
                )
                # SCALE the bucket id to span the full 2^bits range: a
                # low-cardinality column (12 distinct values → 12 distinct
                # buckets) would otherwise populate only its LOW bits,
                # the interleave would give it no high-order influence,
                # and file splits would ignore that dimension entirely —
                # caught by the skewed-distribution pruning test.
                bucket = F.floor(
                    raw * F.lit((n_buckets - 1) / len(uniq))
                ).cast("int")
            # interleave: bit j of column ci lands at position j*k + ci
            k = len(zorder_cols)
            for j in range(bits):
                contrib = F.shiftleft(
                    F.shiftright(bucket, j).bitwiseAND(F.lit(1)), j * k + ci
                ).cast("long")
                z = contrib if z is None else z + contrib
        fs, _, jvm = _fs(spark, table)
        total_bytes = sum(
            fs.getFileStatus(jvm.org.apache.hadoop.fs.Path(f)).getLen()
            for f in manifest["files"]
        )
        n_out = max(1, -(-total_bytes // target_file_bytes))
        packed = (
            df.withColumn("_zval", z)
            .repartitionByRange(n_out, F.col("_zval"))
            .sortWithinPartitions("_zval")
            .drop("_zval")
        )
        new_files = _write_data_files(packed, table, tip_manifest=manifest)
        prev_stats = manifest.get("file_stats") or {}
        stats_cols = sorted(set(_prev_stats_cols(prev_stats)) | set(zorder_cols))
        file_stats = _collect_file_stats(
            new_files, stats_cols, manifest.get("column_mapping") or {}
        )
        placeholder = spark.createDataFrame([], schema)
        try:
            return _commit(
                placeholder,
                table,
                "optimize",
                new_files,
                file_stats,
                expected_version=tip_v + 1,
            )
        except SnapshotConflictError:
            _delete_files(spark, new_files)
            continue
    raise SnapshotConflictError(
        f"zorder on {table} lost 3 consecutive races — retry under lower "
        f"write concurrency"
    )


def snapshot_purge_dv(spark: SparkSession, table: str) -> int:
    """``REORG TABLE ... APPLY (PURGE)`` — rewrite ONLY the files that
    carry deletion vectors, folding the dead positions in, and carry
    every clean file by identity. After the commit (op ``purge_dv``) the
    tip has no vectors; older versions keep theirs until ``vacuum``
    reclaims the sidecars. The read-amplification reset knob: run it
    when a file's dead fraction makes the read-side anti-join more
    expensive than one rewrite. No-op (current version) on a clean
    table."""
    for _ in range(3):
        tip_v, manifest = tablelog.pin(table, spark=spark)
        card = (manifest.get("dv") or {}).get("cardinality") or {}
        dirty = [f for f in manifest["files"] if f in card]
        if not dirty:
            return tip_v
        carried = [f for f in manifest["files"] if f not in card]
        schema = StructType.fromJson(manifest["schema"])
        compacted = _read_data_files(spark, schema, dirty, manifest)
        new_files = _write_data_files(compacted, table, tip_manifest=manifest)
        placeholder = spark.createDataFrame([], schema)
        try:
            return _commit(
                placeholder,
                table,
                "purge_dv",
                carried + new_files,
                _new_file_stats(new_files, manifest),
                expected_version=tip_v + 1,
                dv={"sidecars": [], "cardinality": {}},
            )
        except SnapshotConflictError:
            _delete_files(spark, new_files)
            continue
    raise SnapshotConflictError(
        f"purge_dv on {table} lost 3 consecutive races — retry under lower "
        f"write concurrency"
    )


def snapshot_clone(
    spark: SparkSession,
    source_table: str,
    target_table: str,
    version: int | None = None,
) -> int:
    """SHALLOW CLONE: create a new table whose v1 manifest references the
    SOURCE's data files at the pinned version — zero data copied, O(one
    manifest) however large the table (Delta's ``CREATE TABLE ... SHALLOW
    CLONE``). The clone is immediately writable: merges/appends/deletes
    on it write THEIR OWN files under the clone's root and never touch
    the source; stats, bloom entries and constraints travel with the
    referenced files/metadata.

    Ownership contract (enforced in ``vacuum``): a table only deletes
    data under its own root, so expiring the CLONE's history can never
    reach into the source. The inverse dependency is Delta's documented
    shallow-clone caveat and holds here too: vacuuming the SOURCE can
    delete files the clone still references (the source doesn't know its
    readers) — deep-copy first if the source's retention is shorter than
    the clone's life."""
    versions = list_versions(spark, source_table)
    if not versions:
        raise FileNotFoundError(f"no snapshot manifests under {source_table}")
    if list_versions(spark, target_table):
        raise ValueError(f"clone target {target_table} already exists")
    v = versions[-1] if version is None else version
    if v not in versions:
        raise ValueError(f"version {v} not in {source_table} (have {versions})")
    m = _read_manifest(spark, source_table, v)
    manifest = tablelog.compose(m, "clone", m["files"], m["schema"])
    manifest.pop("txn", None)  # a fork is a new writer identity
    manifest["cloned_from"] = {"table": source_table, "version": v}
    return _try_commit(spark, target_table, manifest, expected_version=1)

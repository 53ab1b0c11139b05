"""The snapshot table format's core, shared by the engine-side
``snapshot_*`` API (sources/snapshots.py) and the ``format("lakesnap")``
DataSource (sources/pyds.py). Each format decision lives here once:

- **Path resolution**: ``file:///x``, ``file:/x`` and ``/x`` name the same
  local path (:func:`norm_uri`, :func:`local_path`).
- **Manifest log**: ``<table>/_manifests/v<N>.json`` — the version
  listing, one manifest read, and :func:`pin` (list → check → read).
- **Atomic publish**: temp file + fsync, then ``link(2)`` for an
  exclusive version claim or ``rename(2)`` for an overwrite
  (:func:`publish`).
- **Commit composition**: the next manifest built from the tip with every
  table-level and per-file fact carried forward (:func:`compose`), and
  the one claim-next retry loop (:func:`commit_next`).
- **Stats pruning**: the canonical stats form (:func:`_stat_norm`) and the
  one pruning predicate over ``{col: {"values", "lo", "hi"}}``
  (:func:`file_may_match`).

Pure Python: a local table is listed, read and published with ``os``
calls and never touches the JVM. A remote scheme (``s3a://``,
``hdfs://``...) goes through the Hadoop FileSystem API of the session
passed as ``spark`` — the small shim below is the only code that runs
there.
"""

from __future__ import annotations

import json
import os
import time
import uuid

MANIFEST_DIR = "_manifests"
#: bounded optimistic-concurrency retries: losing this many consecutive
#: version races means a pathologically hot commit loop, not bad luck
MAX_COMMIT_RETRIES = 50


# ---- paths and the FS shim -------------------------------------------------


def norm_uri(uri: str) -> str:
    """file:///x, file:/x and /x all name the same local path."""
    if uri.startswith("file:"):
        return "/" + uri[5:].lstrip("/")
    return uri


def local_path(uri: str) -> str | None:
    """The local filesystem path ``uri`` names, or None for a remote
    scheme."""
    path = norm_uri(uri)
    return None if "://" in path else path


def _hadoop(spark, path: str):
    if spark is None:
        raise ValueError(
            f"{path} is not a local path; remote tables need a Spark "
            f"session for the Hadoop FileSystem"
        )
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    return hpath.getFileSystem(spark._jsc.hadoopConfiguration()), hpath, jvm


def _list_names(directory: str, spark=None) -> list[str]:
    """Entry names in ``directory`` ([] when it is not a directory)."""
    local = local_path(directory)
    if local is not None:
        return os.listdir(local) if os.path.isdir(local) else []
    fs, hpath, _ = _hadoop(spark, directory)
    if not fs.exists(hpath):
        return []
    return [st.getPath().getName() for st in fs.listStatus(hpath)]


def read_json(path: str, spark=None, missing_ok: bool = False):
    """Parse one JSON file; None for an absent file when ``missing_ok``."""
    local = local_path(path)
    if local is not None:
        try:
            with open(local, "rb") as f:
                return json.loads(f.read())
        except FileNotFoundError:
            if missing_ok:
                return None
            raise
    fs, hpath, jvm = _hadoop(spark, path)
    if missing_ok and not fs.exists(hpath):
        return None
    stream = fs.open(hpath)
    try:
        # IOUtils drains the JVM-side stream in one call; py4j hands the
        # byte[] back as Python bytes (a Python-side read(buf) loop can't
        # work — py4j passes buffer copies, never mutates the original)
        data = jvm.org.apache.commons.io.IOUtils.toByteArray(stream)
        return json.loads(bytes(data))
    finally:
        stream.close()


def publish(path: str, payload: bytes, exclusive: bool, spark=None) -> bool:
    """Atomically make ``payload`` visible at ``path``: readers only ever
    see the old state or the complete new file, never partial bytes.

    ``exclusive`` is a version CLAIM: False when ``path`` already exists
    (a lost race). Locally the payload goes to a temp name and is
    hard-linked into place — ``link(2)`` is atomic and fails EEXIST on a
    claimed name, whereas an exclusive create followed by a write makes
    the name visible before its payload, and a concurrent reader could
    open a half-written tip. Otherwise ``rename(2)`` replaces the file (derived
    data such as the history checkpoint: last writer wins).

    Remote schemes use Hadoop's ``create(overwrite=not exclusive)``; Delta
    on HDFS gets the same claim from atomic no-overwrite rename."""
    local = local_path(path)
    if local is not None:
        # outside the try: a parent that is not a directory must surface
        # as itself, never as a lost race
        os.makedirs(os.path.dirname(local) or ".", exist_ok=True)
        tmp = f"{local}.tmp-{uuid.uuid4().hex[:12]}"
        with open(tmp, "wb") as f:
            f.write(payload)
            f.flush()
            os.fsync(f.fileno())
        if not exclusive:
            os.replace(tmp, local)
            return True
        try:
            os.link(tmp, local)
        except FileExistsError:
            return False
        finally:
            os.unlink(tmp)
        return True
    fs, target, _ = _hadoop(spark, path)
    try:
        out = fs.create(target, not exclusive)
    except Exception:
        # ONLY a lost version race returns False — and the proof of a
        # race is that the target now EXISTS (Hadoop raises
        # FileAlreadyExistsException for unrelated causes too, e.g. a
        # parent that is not a directory). Other errors surface.
        try:
            if exclusive and fs.exists(target):
                return False
        except Exception:
            pass
        raise
    try:
        out.write(bytearray(payload))
    finally:
        out.close()
    return True


# ---- the manifest log ------------------------------------------------------


def manifest_path(table: str, version: int) -> str:
    return f"{table.rstrip('/')}/{MANIFEST_DIR}/v{version}.json"


def list_versions(table: str, spark=None) -> list[int]:
    versions = []
    for name in _list_names(f"{table.rstrip('/')}/{MANIFEST_DIR}", spark):
        if name.startswith("v") and name.endswith(".json"):
            try:
                versions.append(int(name[1:-5]))
            except ValueError:
                continue
    return sorted(versions)


def read_manifest(table: str, version: int, spark=None) -> dict:
    return read_json(manifest_path(table, version), spark)


def pin(table: str, version: int | None = None, spark=None) -> tuple[int, dict]:
    """(v, manifest) for ``version`` (default: the tip). Raises
    FileNotFoundError for a table with no commit, ValueError for a
    version that does not exist (never committed, or vacuumed)."""
    versions = list_versions(table, spark)
    if not versions:
        raise FileNotFoundError(f"no snapshot manifests under {table}")
    v = versions[-1] if version is None else version
    if v not in versions:
        raise ValueError(f"version {v} not in {table} (have {versions})")
    return v, read_manifest(table, v, spark)


def tip(table: str, spark=None) -> tuple[int, dict]:
    """(tip version, tip manifest), or (0, {}) before the first commit."""
    versions = list_versions(table, spark)
    if not versions:
        return 0, {}
    return versions[-1], read_manifest(table, versions[-1], spark)


def claim_version(table: str, manifest: dict, version: int, spark=None) -> bool:
    """Atomically claim AND publish ``v<version>.json``; False when the
    version already exists (lost the race)."""
    manifest["version"] = version
    payload = json.dumps(manifest, sort_keys=True).encode("utf-8")
    return publish(manifest_path(table, version), payload, True, spark)


# ---- commit composition ----------------------------------------------------
#
# Manifest fact keys and how they carry from the tip into the next
# manifest (``compose``):
#   table-level facts — constraints, txn watermarks (element-wise max),
#     column_mapping (pruned to the committed schema), retired_physical —
#     persist across every commit unless the caller passes a replacement;
#   per-file facts — file_stats, file_blooms, dv cardinality (with the
#     sidecar list) — are facts about immutable files, so an entry rides
#     along exactly as long as this commit still references its file;
#   app metadata and op-specific keys (restored_from, renamed, ...) never
#     carry.
# A new key belongs in ``compose``: every commit path builds its
# manifest there, so no path can silently drop it.


def compose(
    tip: dict,
    operation: str,
    files: list[str],
    schema: dict,
    *,
    file_stats: dict | None = None,
    file_blooms: dict | None = None,
    constraints: dict | None = None,
    dv: dict | None = None,
    txn: dict | None = None,
    column_mapping: dict | None = None,
    app: dict | None = None,
) -> dict:
    """The next manifest after ``tip`` (``{}`` for a new table):
    ``files`` with ``schema`` (a StructType's JSON dict). A keyword left
    None inherits from ``tip`` by the rules above; a value replaces the
    tip's, except ``file_stats`` / ``file_blooms``, whose per-file
    entries are laid over the carried ones, and ``txn``, whose
    ``{app_id: version}`` watermarks max-merge into the tip's — a
    high-water mark never moves back.

    ``column_mapping``: the logical→physical map THIS commit's files
    were written with. A schema-replacing commit passes it so a rename
    racing the write cannot install a mapping the files don't satisfy.
    Entries whose logical name left the schema are dropped, and nothing
    is retired here: the only schema-redefining path is overwrite, which
    replaces every file (retiring once bricked revert-a-rename);
    ``snapshot_drop_column`` is the one place a name retires."""

    def carried(per_file: dict | None) -> dict:
        return {f: per_file[f] for f in files if f in (per_file or {})}

    file_stats = {**carried(tip.get("file_stats")), **(file_stats or {})}
    file_blooms = {**carried(tip.get("file_blooms")), **(file_blooms or {})}
    if dv is None:
        prev_dv = tip.get("dv") or {}
        dv = {
            "sidecars": prev_dv.get("sidecars") or [],
            "cardinality": carried(prev_dv.get("cardinality")),
        }
    if constraints is None:
        constraints = tip.get("constraints") or {}
    txn_map = dict(tip.get("txn") or {})
    for app_id, v in (txn or {}).items():
        txn_map[app_id] = max(int(v), int(txn_map.get(app_id, v)))
    names = {f["name"] for f in schema["fields"]}
    if column_mapping is None:
        column_mapping = tip.get("column_mapping") or {}
    manifest = {
        "operation": operation,
        "files": files,
        "schema": schema,
        "committed_at_unix": round(time.time(), 3),
    }
    facts = {
        "txn": txn_map,
        "column_mapping": {
            l: p for l, p in column_mapping.items() if l in names
        },
        "retired_physical": list(tip.get("retired_physical") or []),
        "file_stats": file_stats,
        "file_blooms": file_blooms,
        "constraints": constraints,
        # application metadata rides the commit ATOMICALLY (Delta's
        # txn/commitInfo analog): a materialized-view watermark advances
        # in the same manifest write that publishes the mart content
        "app": app,
    }
    manifest.update({k: v for k, v in facts.items() if v})
    if dv.get("cardinality"):
        manifest["dv"] = dv
    return manifest


def commit_next(table: str, build, spark=None, claim=None) -> int:
    """Commit ``build(tip_manifest)`` at the next free version; returns
    it. For state-INDEPENDENT commits (overwrite, restore, the format
    writer). A lost claim loops back to re-read the tip and RE-COMPOSE,
    so facts a racer committed in between (an ADD CONSTRAINT, a txn
    watermark) are inherited instead of erased. ``claim(manifest, v)``
    defaults to :func:`claim_version`."""
    if claim is None:

        def claim(manifest, v):
            return claim_version(table, manifest, v, spark)

    for _ in range(MAX_COMMIT_RETRIES):
        v, tip_m = tip(table, spark)
        if claim(build(tip_m), v + 1):
            return v + 1
    raise RuntimeError(
        f"snapshot commit lost {MAX_COMMIT_RETRIES} consecutive version "
        f"races on {table} — runaway concurrent writer loop?"
    )


# ---- stats pruning ---------------------------------------------------------


def _stat_norm(v):
    """Canonical JSON-portable form for a stats/probe value. Numerics,
    strings and bools pass through; datetimes and dates become a FIXED-
    WIDTH UTC-naive ISO string (``YYYY-MM-DDTHH:MM:SS.ffffff`` — dates
    midnight-extended) whose lexicographic order equals chronological
    order, so every ``<=`` pruning comparison keeps working across the
    manifest JSON round-trip. The same function normalizes PROBE values
    at the compare sites: stats and probes must land in the identical
    canonical form or boundary-equality probes would mis-prune (a
    tz-aware "…+00:00" string sorts after its naive twin).

    A NAIVE datetime is treated as HOST-LOCAL, because that is what the
    actual filter does: PySpark's ``TimestampType.toInternal`` converts a
    naive literal via ``time.mktime(dt.timetuple())`` (host zone), so on
    a non-UTC host a naive probe passed through as-UTC would disagree
    with the filter by the UTC offset and silently skip files containing
    matching rows. The conversion here IS ``time.mktime`` — not
    ``astimezone()`` — because the two disagree by an hour for
    DST-ambiguous or nonexistent local times (mktime resolves with
    ``tm_isdst=-1``, astimezone with ``fold=0``; ADVICE r10), and a
    probe in a DST transition hour must land exactly where the filter
    does. Footer stats are never naive (pyarrow returns tz-aware UTC for
    Spark's TIMESTAMP_MICROS), so this branch only ever sees user probe
    values."""
    import datetime as _dt

    if isinstance(v, _dt.datetime):
        if v.tzinfo is None:
            # the TimestampType.toInternal twin: int(mktime) seconds +
            # carried microseconds
            v = _dt.datetime.fromtimestamp(
                int(time.mktime(v.timetuple())), _dt.timezone.utc
            ) + _dt.timedelta(microseconds=v.microsecond)
        v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        return v.isoformat(timespec="microseconds")
    if isinstance(v, _dt.date):
        return _dt.datetime(v.year, v.month, v.day).isoformat(
            timespec="microseconds"
        )
    return v


def file_may_match(stats_entry: dict, bounds: dict[str, dict]) -> bool:
    """The pruning predicate. ``stats_entry`` is one file's
    ``{col: [min, max, has_null]}``; ``bounds`` asks, per column,
    ``{"values": [...], "lo": x, "hi": y}`` (any key may be absent or
    None): can a row equal one of ``values`` (None = a NULL probe) and
    lie in ``[lo, hi]``? Conservative: a file survives unless some
    column's stats PROVE no row can match. Missing stats for a column,
    or a cross-type compare, can't prune. Probes are normalized to the
    stats' canonical form (:func:`_stat_norm`)."""
    for col, b in bounds.items():
        row = stats_entry.get(col)
        if row is None:
            continue
        lo, hi, has_null = row
        values = b.get("values") or ()
        if has_null and any(v is None for v in values):
            continue  # a NULL probe matches this file's NULLs
        if lo is None:
            # min None = an empty file OR an entirely-NULL column: only
            # a NULL probe could match, and the file has none (or no rows)
            return False
        try:
            if values and not any(
                lo <= _stat_norm(v) <= hi for v in values if v is not None
            ):
                return False
            if b.get("lo") is not None and hi < _stat_norm(b["lo"]):
                return False
            if b.get("hi") is not None and lo > _stat_norm(b["hi"]):
                return False
        except TypeError:  # cross-type compare: be conservative
            continue
    return True


def prune(files: list[str], file_stats: dict | None, bounds: dict) -> list[str]:
    """The files whose stats can't rule out ``bounds``, in order."""
    stats = file_stats or {}
    return [f for f in files if file_may_match(stats.get(f, {}), bounds)]

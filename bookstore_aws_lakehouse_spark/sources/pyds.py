"""The snapshot table as a first-class Spark data source (Spark 4's
Python DataSource API): after ``register_snapshot_datasource(spark)``,

    spark.read.format("lakesnap").option("path", table)
         .option("version", "3").load()

plans a manifest-pinned, stats-pruned scan of the table — no helper
function in the read path at all. What the integration buys over
``snapshot_read``:

- **Engine-driven filter pushdown**: Spark hands the reader its
  predicates (``pushFilters``); file-level pruning against the
  manifest's min/max stats happens INSIDE scan planning, for any query
  shape — SQL over a view included — not just calls to
  ``snapshot_scan``. Every filter is also returned as unapplied, so
  Spark re-evaluates them row-level: pruning can only skip files the
  stats PROVE empty for the predicate. (The bloom index stays
  engine-side — probing it requires Spark's xxhash64, and this repo
  deliberately has no second hash implementation to drift.)
- **File-granular parallelism**: one ``InputPartition`` per data file.
- **Arrow batches**: ``read`` yields pyarrow RecordBatches straight from
  the parquet reader — the vectorized path, no Python row objects.

The table format itself — manifest listing, reads and atomic publish,
commit composition, stats pruning — is the shared core
``sources/tablelog.py``, the same code ``snapshot_*`` runs. Local-
filesystem scope: the Python DS API runs in Python workers with no JVM
FileSystem handle, so manifests and data are read with plain
``open``/pyarrow. On a cluster the package must be shipped to executors
(cloudpickle serializes the reader by reference).
"""

from __future__ import annotations

import json
import os
from collections.abc import Iterator, Sequence
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    DataSourceStreamReader,
    EqualNullSafe,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    LessThan,
    LessThanOrEqual,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

from bookstore_aws_lakehouse_spark.sources import tablelog
from bookstore_aws_lakehouse_spark.sources.tablelog import norm_uri

FORMAT_NAME = "lakesnap"


@dataclass
class _FilePartition(InputPartition):
    path: str
    #: logical column names + logical→physical map (None = raw passthrough)
    cols: tuple | None = None
    phys_of: dict | None = None
    #: DV sidecar paths holding dead positions for THIS file (streaming;
    #: the batch reader resolves them from its manifest instead)
    dv_sidecars: tuple | None = None


def _bounds_for(filters: Sequence[Filter]) -> dict[str, dict]:
    """Distill pushed filters into the per-column prune questions
    ``tablelog.file_may_match`` answers:
    {col: {"values": [...] | None, "lo": x | None, "hi": y | None}}.
    Only top-level single-part columns participate (nested paths are
    never pruned on)."""
    out: dict[str, dict] = {}

    def ent(col) -> dict | None:
        if len(col) != 1:
            return None
        return out.setdefault(col[0], {"values": [], "lo": None, "hi": None})

    for f in filters:
        if isinstance(f, (EqualTo, EqualNullSafe)):
            e = ent(f.attribute)
            if e is not None:
                e["values"].append(f.value)
        elif isinstance(f, In):  # In.value is the tuple of values
            e = ent(f.attribute)
            if e is not None:
                e["values"].extend(f.value)
        elif isinstance(f, (GreaterThan, GreaterThanOrEqual)):
            e = ent(f.attribute)
            if e is not None:
                e["lo"] = f.value if e["lo"] is None else max(e["lo"], f.value)
        elif isinstance(f, (LessThan, LessThanOrEqual)):
            e = ent(f.attribute)
            if e is not None:
                e["hi"] = f.value if e["hi"] is None else min(e["hi"], f.value)
    return out


class SnapshotReader(DataSourceReader):
    def __init__(self, options: dict, schema: StructType) -> None:
        self._schema = schema
        version = options.get("version")
        _, self._manifest = tablelog.pin(
            options["path"], int(version) if version is not None else None
        )
        # column mapping: files carry physical names; read by physical,
        # emit logical (stats/bounds stay logical-keyed — no translation)
        self._phys_of = {
            c: (self._manifest.get("column_mapping") or {}).get(c, c)
            for c in schema.fieldNames()
        }
        self._bounds: dict[str, dict] = {}

    def pushFilters(self, filters: list[Filter]) -> Iterator[Filter]:
        self._bounds = _bounds_for(filters)
        # every filter is re-applied by Spark (pruning is an optimization,
        # never a semantics change) — report them all as unconsumed
        return iter(filters)

    def partitions(self) -> Sequence[InputPartition]:
        kept = tablelog.prune(
            self._manifest["files"], self._manifest.get("file_stats"), self._bounds
        )
        return [_FilePartition(norm_uri(f)) for f in kept]

    def read(self, partition: _FilePartition):
        import pyarrow.parquet as pq

        cols = self._schema.fieldNames()
        pf = pq.ParquetFile(partition.path)
        present = [
            self._phys_of[c]
            for c in cols
            if self._phys_of[c] in pf.schema_arrow.names
        ]
        dead = _dead_positions(self._manifest, partition.path)
        offset = 0
        for batch in pf.iter_batches(columns=present):
            n = batch.num_rows
            masked = _mask_dead(batch, dead, offset)
            offset += n
            yield from _conform(masked, cols, self._phys_of)


def _dead_positions(manifest: dict, local_path: str):
    """Deletion-vector positions for one data file from a manifest, or
    None when the file is clean."""
    dv = manifest.get("dv") or {}
    card = dv.get("cardinality") or {}
    if not any(norm_uri(f) == local_path for f in card):
        return None
    return _load_positions(
        [norm_uri(sc) for sc in dv.get("sidecars") or []], local_path
    )


def _load_positions(sidecars, local_path: str):
    """Dead positions for one data file from DV sidecar files (pyarrow
    filter pushdown on the ``file`` column — each sidecar read touches
    only matching row groups). Returns a pyarrow array or None."""
    import pyarrow.parquet as pq

    chunks = []
    for sc in sidecars:
        t = pq.read_table(
            sc, columns=["pos"], filters=[("file", "=", local_path)]
        )
        chunks.append(t.column("pos"))
    if not chunks:
        return None
    import pyarrow as pa

    return pa.concat_arrays(
        [c.combine_chunks() if isinstance(c, pa.ChunkedArray) else c for c in chunks]
    )


def _mask_dead(batch, dead, offset: int):
    """Drop a batch's rows whose file-relative position (``offset`` +
    batch row index, matching Spark's ``_metadata.row_index``) is in the
    deletion vector. Vectorized: one ``is_in`` over an index array."""
    if dead is None or len(dead) == 0:
        return batch
    import pyarrow as pa
    import pyarrow.compute as pc

    idx = pa.array(range(offset, offset + batch.num_rows), type=pa.int64())
    keep = pc.invert(pc.is_in(idx, value_set=dead.cast(pa.int64())))
    return batch.filter(keep)


def _conform(batch, cols, phys_of=None):
    """Schema evolution at the Arrow layer: historic files may lack
    columns added later — fill them with nulls and order to the table
    schema, exactly like ``snapshot_read``'s pinned-schema read. With a
    column mapping, ``phys_of`` names the physical column each LOGICAL
    output column reads from (identical for unmapped tables)."""
    import pyarrow as pa

    phys_of = phys_of or {}
    src = [phys_of.get(c, c) for c in cols]
    if batch.schema.names == list(cols) and src == list(cols):
        yield batch
        return
    arrays = []
    for c in src:
        if c in batch.schema.names:
            arrays.append(batch.column(batch.schema.names.index(c)))
        else:
            arrays.append(pa.nulls(batch.num_rows))
    yield pa.RecordBatch.from_arrays(arrays, names=list(cols))


class SnapshotDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return FORMAT_NAME

    def schema(self):
        version = self.options.get("version")
        _, m = tablelog.pin(
            self.options["path"], int(version) if version is not None else None
        )
        return StructType.fromJson(m["schema"])

    def reader(self, schema: StructType) -> SnapshotReader:
        return SnapshotReader(dict(self.options), schema)

    def streamReader(self, schema: StructType) -> "SnapshotStreamReader":
        # defined below; resolved at call time
        return SnapshotStreamReader(dict(self.options))

    def writer(self, schema: StructType, overwrite: bool) -> "SnapshotWriter":
        return SnapshotWriter(dict(self.options), schema, overwrite)

    def streamWriter(self, schema: StructType, overwrite: bool):
        # defined below; resolved at call time
        return SnapshotStreamWriter(dict(self.options), schema, overwrite)


def register_snapshot_datasource(spark) -> None:
    """Register ``format("lakesnap")`` on the session (idempotent) and
    enable Python-data-source filter pushdown (off by default in Spark
    4.1; without it a reader implementing ``pushFilters`` is rejected
    outright)."""
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(SnapshotDataSource)


# ---- streaming source: tail the snapshot log ------------------------------


class SnapshotStreamReader(DataSourceStreamReader):
    """Micro-batch source over the snapshot COMMIT LOG: offsets are
    version numbers, a batch is the data files that are referenced at
    the end version but not at the start version — i.e. each appended
    commit streams exactly once, with one InputPartition per new file
    (the Delta streaming-source model). Restart-safe by construction:
    the engine checkpoints the version offsets.

    Contract (same as Delta's default streaming source): the table must
    be APPEND-ONLY within the streamed window — an op that rewrites or
    replaces data (merge/overwrite/delete/update/optimize/restore) would
    re-emit or lose rows, so the reader REFUSES the window loudly
    instead of silently corrupting the stream. Metadata-only commits
    (index, set_constraint) are transparent."""

    _APPEND_SAFE_OPS = {"append", "index", "set_constraint"}

    def __init__(self, options: dict) -> None:
        self._table = options["path"]
        # DS options arrive case-insensitively (lowercased keys)
        start = options.get("startingversion", options.get("startingVersion"))
        self._start = int(start) if start is not None else 0
        # maxVersionsPerTrigger: steady-state back-pressure (Delta's
        # maxFilesPerTrigger shape, in commit units). The cap anchors to
        # the first observed tip rather than the checkpointed offset —
        # latestOffset() receives no start in this API, and capping
        # below an unknown committed offset could make the engine record
        # a REGRESSED offset and re-emit data — so the first trigger
        # after (re)start is uncapped and every later trigger admits at
        # most N new versions. Monotonic by construction: never unsafe.
        cap = options.get("maxversionspertrigger")
        self._max_versions = int(cap) if cap is not None else None
        self._last_end: int | None = None
        # manifests are immutable once committed (created with O_EXCL), so
        # caching them by version is always sound — without it every
        # trigger's window loop re-reads each version's JSON (and the end
        # version twice: once for its op check, once for its file list)
        self._mcache: dict[int, dict] = {}

    def _manifest(self, v: int) -> dict:
        m = self._mcache.get(v)
        if m is None:
            _, m = tablelog.pin(self._table, v)
            if len(self._mcache) >= 512:  # bounded on high-churn tables
                self._mcache.clear()
            self._mcache[v] = m
        return m

    def initialOffset(self) -> dict:
        return {"version": self._start}

    def latestOffset(self) -> dict:
        vs = tablelog.list_versions(self._table)
        tip = vs[-1] if vs else self._start
        if self._max_versions is not None and self._last_end is not None:
            tip = min(tip, self._last_end + self._max_versions)
        self._last_end = max(tip, self._last_end or self._start)
        return {"version": tip}

    def partitions(self, start: dict, end: dict):
        v0, v1 = start["version"], end["version"]
        if v1 <= v0:
            return []
        have = set(tablelog.list_versions(self._table))
        base_files: set[str] = set()
        if v0:
            if v0 not in have:
                # the checkpointed start version was vacuumed: the batch
                # [v0, v1] can no longer be diffed, and treating it as
                # "from empty" would RE-EMIT every previously-streamed row.
                # Refuse loudly (Delta's failOnDataLoss default) — the
                # caller must restart from a fresh checkpoint.
                raise ValueError(
                    f"snapshot stream start version {v0} has been vacuumed "
                    f"from {self._table!r} — cannot reconstruct the batch "
                    f"without duplicating already-streamed rows. Restart "
                    f"the stream with a fresh checkpoint (failOnDataLoss)."
                )
            base_files = set(self._manifest(v0)["files"])
        floor = min(have) if have else 0
        for v in range(v0 + 1, v1 + 1):
            if v not in have:
                if v0 == 0 and v < floor:
                    # pre-initial-snapshot history: subsumed by the full
                    # file list we emit at the first retained manifest
                    continue
                # a vacuumed version INSIDE an incremental window hides
                # its op kind — the append-only contract can't be checked
                raise ValueError(
                    f"snapshot stream window ({v0}, {v1}] on "
                    f"{self._table!r} crosses vacuumed version {v} — "
                    f"append-only history cannot be verified; restart "
                    f"from a fresh checkpoint"
                )
            if v0 == 0 and v == floor:
                # streaming from the beginning: the table-creating commit
                # is the INITIAL SNAPSHOT (Delta streams it wholesale) —
                # its op kind is irrelevant, its files emit exactly once
                continue
            op = self._manifest(v).get("operation")
            if op not in self._APPEND_SAFE_OPS:
                raise ValueError(
                    f"snapshot stream requires append-only history, but "
                    f"version {v} is {op!r} — stream from a later "
                    f"startingVersion or keep the table append-only"
                )
        end_m = self._manifest(v1)
        end_schema = StructType.fromJson(end_m["schema"])
        cols = tuple(end_schema.fieldNames())
        mapping = end_m.get("column_mapping") or {}
        phys_of = {c: mapping.get(c, c) for c in cols}
        # deletion vectors: constant across any legal window (delete_dv
        # is refused by the append-only check), but the INITIAL snapshot
        # may carry them — a cloned table's floor, or vacuumed history
        # whose surviving manifest recorded a DV. Emitted rows must
        # subtract them, exactly like every batch read path.
        dv = end_m.get("dv") or {}
        card = dv.get("cardinality") or {}
        sidecars = tuple(norm_uri(sc) for sc in dv.get("sidecars") or [])
        dirty = {norm_uri(f) for f in card}
        return [
            _FilePartition(
                norm_uri(f),
                cols=cols,
                phys_of=phys_of,
                dv_sidecars=sidecars if norm_uri(f) in dirty else None,
            )
            for f in end_m["files"]
            if f not in base_files
        ]

    def read(self, partition: _FilePartition):
        import pyarrow.parquet as pq

        pf = pq.ParquetFile(partition.path)
        if partition.cols is None:
            yield from pf.iter_batches()
            return
        present = [
            partition.phys_of[c]
            for c in partition.cols
            if partition.phys_of[c] in pf.schema_arrow.names
        ]
        dead = None
        if partition.dv_sidecars:
            dead = _load_positions(partition.dv_sidecars, partition.path)
        offset = 0
        for batch in pf.iter_batches(columns=present):
            n = batch.num_rows
            masked = _mask_dead(batch, dead, offset)
            offset += n
            yield from _conform(masked, list(partition.cols), partition.phys_of)

    def commit(self, end: dict) -> None:
        v = end.get("version")
        if v is not None:
            self._last_end = max(v, self._last_end or v)


# ---- batch writer: df.write.format("lakesnap") ----------------------------


@dataclass
class _WroteFile(WriterCommitMessage):
    path: str
    num_rows: int


def _fields(schema: dict) -> set:
    """A schema JSON's (name, type) pairs, nullability ignored."""
    return {
        (f["name"], json.dumps(f["type"], sort_keys=True))
        for f in schema["fields"]
    }


class SnapshotWriter(DataSourceArrowWriter):
    """Arrow-batch writer completing the format trio (read / readStream /
    write): each task streams its RecordBatches into ONE parquet file
    under an uncommitted tx dir and reports the path; ``commit`` — on
    the driver, exactly once, only if every task succeeded — composes
    and atomically claims the next manifest version (append = previous
    files ∪ new, overwrite = new only), i.e. the snapshot commit
    protocol expressed through Spark's own two-phase writer hooks. A
    failed job never publishes: ``abort`` deletes the orphan files and
    no manifest references them."""

    def __init__(self, options: dict, schema: StructType, overwrite: bool) -> None:
        import uuid as _uuid

        self._table = norm_uri(options["path"])
        self._schema = schema
        self._overwrite = overwrite
        self._tx = f"{self._table.rstrip('/')}/data/tx-{_uuid.uuid4().hex[:12]}"
        _, tip = tablelog.tip(self._table)
        mapping = tip.get("column_mapping") or {}
        retired = set(tip.get("retired_physical") or [])
        # overwrite replaces schema + files: renamed-frozen physical
        # names may be re-used as logical names (see _write_data_files)
        other_phys = (
            set() if overwrite else {p for l, p in mapping.items() if l != p}
        )
        clash = [
            c
            for c in schema.fieldNames()
            if c not in mapping and (c in retired or c in other_phys)
        ]
        if clash:
            raise ValueError(
                f"column name(s) {clash} collide with physical column names "
                f"in {self._table}'s data files (retired or renamed-frozen); "
                f"pick different names"
            )
        # plan-time mapping: the files are written with THESE physical
        # names; overwrite's committed mapping must describe them (not a
        # racer's claim-time mapping the files don't satisfy)
        self._mapping = mapping
        # files store PHYSICAL names (frozen at column birth)
        self._physical_renames = {
            l: p
            for l, p in mapping.items()
            if l != p and l in schema.fieldNames()
        }

    def write(self, iterator):
        import uuid as _uuid

        import pyarrow as pa
        import pyarrow.parquet as pq

        os.makedirs(self._tx, exist_ok=True)
        path = os.path.join(self._tx, f"part-{_uuid.uuid4().hex[:12]}.parquet")
        writer = None
        n = 0
        for batch in iterator:
            if self._physical_renames:
                batch = batch.rename_columns(
                    [
                        self._physical_renames.get(c, c)
                        for c in batch.schema.names
                    ]
                )
            if writer is None:
                writer = pq.ParquetWriter(path, batch.schema)
            writer.write_table(pa.Table.from_batches([batch]))
            n += batch.num_rows
        if writer is None:
            # empty task: no file, no manifest entry (the API requires a
            # message object either way)
            return _WroteFile(path="", num_rows=0)
        writer.close()
        if n == 0:
            os.remove(path)
            return _WroteFile(path="", num_rows=0)
        return _WroteFile(path=path, num_rows=n)

    def commit(self, messages) -> None:
        files = sorted(
            "file:" + m.path for m in messages if m is not None and m.path
        )
        schema = json.loads(self._schema.json())

        def build(tip: dict) -> dict:
            # the format writer has no engine to validate CHECK
            # expressions with — refuse rather than silently skip
            # enforcement (use snapshot_append/merge on constrained tables)
            if tip.get("constraints"):
                SnapshotWriter.abort(self, messages)
                raise ValueError(
                    f"table has CHECK constraints "
                    f"{sorted(tip['constraints'])}; the lakesnap format "
                    f"writer cannot validate them — write via "
                    f"snapshot_append/snapshot_merge instead"
                )
            if self._overwrite or not tip:
                prev = []
            elif _fields(tip["schema"]) != _fields(schema):
                SnapshotWriter.abort(self, messages)
                raise ValueError(
                    "append schema differs from the table schema; "
                    "the format writer does not evolve schemas — "
                    "use snapshot_append(merge_schema=True)"
                )
            else:
                prev = tip["files"]
            # append carries every previous file with its per-file facts;
            # overwrite commits the mapping the files were WRITTEN with
            # (a rename racing this job must not install a mapping the
            # parquet files don't satisfy)
            return tablelog.compose(
                tip,
                "overwrite" if self._overwrite else "append",
                prev + files,
                schema,
                # the streaming sink's batch id rides the tip-inherited
                # txn map (vacuum-proof exactly-once)
                txn=dict([self._txn]) if getattr(self, "_txn", None) else None,
                column_mapping=self._mapping if self._overwrite else None,
                app=getattr(self, "_app", None),
            )

        tablelog.commit_next(self._table, build)

    def abort(self, messages) -> None:
        for m in messages:
            if m is not None and m.path and os.path.exists(m.path):
                os.remove(m.path)


# ---- streaming writer: df.writeStream.format("lakesnap") ------------------


class SnapshotStreamWriter(SnapshotWriter, DataSourceStreamArrowWriter):
    """Streaming sink completing the format QUARTET (read / readStream /
    write / writeStream): every micro-batch commits through the same
    two-phase protocol as the batch writer, and each committed manifest
    records the batch id it came from (``app.stream_sink.last_batch_id``
    — the Delta transactional-sink pattern via this format's app
    metadata). EXACTLY-ONCE across restarts falls out: when checkpoint
    recovery REPLAYS a batch whose id is already recorded in the
    manifest history, ``commit`` deletes the replay's files and returns
    without a new version — rows are never appended twice.

    Contract: one streaming query per table (batch ids are per-query;
    Delta's multi-writer form keys them by txnAppId). ``outputMode``
    append → each batch appends; complete → each batch replaces the
    table (both replay-guarded)."""

    _TXN_APP_ID = "lakesnap.stream_sink"

    def _last_committed_batch(self) -> int | None:
        """Highest batch id ever committed, from the TIP manifest's
        tip-inherited ``txn`` map — one read, immune to vacuum dropping
        old manifests (the app-metadata scan it replaces was O(versions)
        per batch AND forgot ids once their manifest was vacuumed).
        Falls back to the legacy full scan for pre-upgrade tables whose
        tip predates the txn recording."""
        _, tip = tablelog.tip(self._table)
        b = (tip.get("txn") or {}).get(self._TXN_APP_ID)
        if b is not None:
            return int(b)
        last = None
        for v in tablelog.list_versions(self._table):
            try:
                m = tablelog.read_manifest(self._table, v)
            except (OSError, ValueError):
                continue
            b = (m.get("app") or {}).get("stream_sink", {}).get("last_batch_id")
            if b is not None and (last is None or b > last):
                last = b
        return last

    def commit(self, messages, batchId: int) -> None:  # type: ignore[override]
        last = self._last_committed_batch()
        if last is not None and last >= batchId:
            # checkpoint-recovery replay of an already-committed batch:
            # drop the rewritten files, publish nothing (exactly-once)
            SnapshotWriter.abort(self, messages)
            return
        self._app = {"stream_sink": {"last_batch_id": batchId}}
        self._txn = (self._TXN_APP_ID, batchId)
        SnapshotWriter.commit(self, messages)

    def abort(self, messages, batchId: int) -> None:  # type: ignore[override]
        SnapshotWriter.abort(self, messages)

"""Incremental view maintenance — the heart of the reference.

The reference (``/root/reference/qvarnmr/processor.py``) maintains derived
map/reduce tables from a change-data-capture feed, one notification at a
time over synchronous REST. This module re-expresses the same contract as
*set-oriented batch application*: one CDC micro-batch in, one transactional
state update out. The semantics preserved (SURVEY.md §2.7):

- **T2 map upsert**: on created/updated, delete ALL previous map outputs of
  that ``_mr_source_id`` then insert fresh ones (``processor.py:99-131``,
  delete-then-insert ``processor.py:111-126``). Set form: anti-join the old
  map table against the dirty-id set, union the freshly mapped rows.
- **T3 delete propagation**: on deleted, drop the id's map rows; their
  keys still reach the reduce through T4's dirty set. The reference
  tombstones instead and purges after the reduce (``processor.py:133-148,
  406-409``) because its map and reduce commit separately; here one batch
  is one store transaction, which collapses both phases (SURVEY T3), so
  a stored map row carries no tombstone flag and no reader filters one.
- **T4 dirty-key tracking**: re-reduce only keys touched by this batch
  (``processor.py:345-360,373-382``). Set form: dirty keys = keys of old ∪
  new map rows of the dirty source ids; recompute = semi-join + groupBy.
  Like the reference's in-memory hand-off, the map pass builds one
  cached signed delta frame that lives for one batch: the map rows plus
  ``_mr_weight`` (+1 inserted, −1 retracted — the counting algorithm's
  and DBSP's Z-set form of a change); it hands the reduce pass the
  delta's inserted rows and its dirty and lost keys. A crashed batch
  publishes nothing, so its replay re-derives them. Bookkeeping is
  batch-sized: last-change-wins runs once per batch, and a batch that
  changes no map row publishes nothing.
- **T5 full-group recompute**: reduce re-runs over the entire key group, not
  an incremental delta (``processor.py:192-227``) — always correct for
  non-decomposable aggregates; Catalyst still does partial aggregation
  inside the recompute.
- **A8 empty-group elimination**: a key whose live mapped rows all vanished
  loses its reduce row (``processor.py:214-217``, ``utils.py:31-37``).
- **T7 version barrier**: a rebuilt view and its handler version publish
  in one transaction; half-synced keys are postponed while a map's stored
  and configured handler versions differ (``processor.py:168-178``, see
  :meth:`IncrementalEngine._apply_reduce`).
- **T8 resync/backfill**: full recompute through the same builders +
  transactional overwrite (``resync.py:15-49,77-128``) — versioned-state
  skip machinery becomes unnecessary because the overwrite is atomic.

State lives in a :class:`ParquetStateStore` — versioned parquet snapshots
with one atomically-renamed state file. On a production cluster this role
is played by Delta/Iceberg ``MERGE`` (ACID, file-level data skipping); the
store isolates that choice behind ``read``/``overwrite`` so swapping the
backend does not touch engine logic.

Every batch-sized set of ids or keys (the upserted and changed ids, the
ids found in a source, the dirty, lost and gained keys) is a *key set* in
one of two forms, picked by the batch's size and filtered through one
helper, :func:`_isin`. A batch of at most ``MAX_LITERALS`` (1,024) changed
ids — a trickle of notifications, the reference's own traffic — is
collected to the driver once, and its key sets are Python lists: literal
filters that run inside the scans they filter and push down to them, so
such a batch costs a handful of Spark jobs, where each broadcast would be
a job of its own. A larger batch never reaches the driver: its key sets
stay frames, and a 100 TB map table with a 10M-id batch does a broadcast
anti-join, not a driver-side loop over ids.
"""

from __future__ import annotations

import functools
import json
import os
import shutil
import threading
from contextlib import contextmanager
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from qvarn_mr_spark.catalog import Catalog
from qvarn_mr_spark.operators.mapreduce import (
    REDUCE_SPECS,
    ViewEngine,
)

#: Change kinds in the reference's notification feed
#: (``processor.py:17-27``; ``[qvarn] listener_resource.py:319-399``).
CREATED, UPDATED, DELETED = "created", "updated", "deleted"
#: A change set after last-change-wins, one row per changed id
_CHANGE_SCHEMA = "resource_type string, resource_id string, change string"

#: The entry kinds of a state file: each maps a name to a number (a
#: table, handler or schema version, or a counter's high-water mark).
_STATE_KINDS = ("tables", "handlers", "schemas", "counters")

#: A delta commit folds its table into one snapshot rewrite instead once
#: the table would hold more than this many delta file sets beyond its
#: base, which bounds a read's fan-in to ``COMPACT_AFTER + 1`` file sets
COMPACT_AFTER = 8
#: The most values one literal key-set filter carries: a table whose
#: delete sets would hold more folds instead, and an apply batch with more
#: changed ids keeps its key sets as frames (see :func:`_isin`)
MAX_LITERALS = 1024
#: Spark's default ``spark.sql.optimizer.inSetConversionThreshold``: an
#: ``IN`` list longer than this becomes one hash-set lookup
_INSET_MIN = 10


@contextmanager
def _held_frames():
    """A list for the frames one batch caches or checkpoints locally,
    released however the batch ends — a batch that raises must not leave
    their blocks behind."""
    held: list[DataFrame] = []
    try:
        yield held
    finally:
        for df in held:
            df.unpersist()
            plan = df._jdf.queryExecution().logical()
            if plan.nodeName() == "LogicalRDD":
                # a local checkpoint's blocks, which unpersist leaves
                plan.rdd().unpersist(False)


def _union(frames: list[DataFrame]) -> DataFrame:
    """Union by column name; a column some frames lack reads null."""
    return functools.reduce(
        lambda a, b: a.unionByName(b, allowMissingColumns=True), frames)


def _schema(manifest: dict) -> T.StructType:
    """The schema a version's manifest records."""
    return T.StructType.fromJson(json.loads(manifest["schema"]))


def _sql_str(value) -> str:
    """``value`` as a Spark SQL string literal."""
    return "'" + str(value).replace("\\", "\\\\").replace("'", "\\'") + "'"


#: SQL literal suffixes of the integral types
_INT_SUFFIX = {T.LongType: "L", T.IntegerType: "", T.ShortType: "S",
               T.ByteType: "Y"}


def _sql_lit(value, dtype: T.DataType) -> str:
    """``value`` as a Spark SQL literal of type ``dtype``."""
    if isinstance(dtype, T.StringType):
        return _sql_str(value)
    if type(dtype) in _INT_SUFFIX:
        return f"{int(value)}{_INT_SUFFIX[type(dtype)]}"
    return f"CAST({_sql_str(value)} AS {dtype.simpleString()})"


def _member(schema: T.StructType, key: str, values: list,
            anti: bool = False) -> str:
    """One filter term as SQL text: is the key in ``values`` (with
    ``anti``: not in them)? A key names one column of ``schema`` or
    several joined by ``,`` (then each value is a list); each literal
    carries its column's type.

    The term's generated code depends on neither the number nor the
    values of its literals, so a filter compiled once serves every later
    key set: Spark runs an ``IN`` list longer than ``_INSET_MIN`` as one
    hash-set lookup but compiles a shorter one to one comparison per
    value (and inlines primitive values), so a shorter list is an
    ``array_contains`` over one array literal, which constant-folds to one
    reference. A null key matches nothing, so an anti term keeps a
    null-keyed row, as a left anti-join does (a bare ``NOT IN`` or ``NOT
    array_contains`` reads null and would drop it)."""
    names = key.split(",")
    types = [schema[c].dataType for c in names]
    if len(names) == 1:
        values = [[v] for v in values if v is not None]
    rows = [[_sql_lit(x, t) for x, t in zip(v, types)] for v in values]
    if not rows:
        return "true" if anti else "false"
    if len(names) == 1:
        col = f"`{key}`"
        literals = [x for (x,) in rows]
        null = f"{col} IS NULL OR "
    else:
        col = "(" + ", ".join(f"`{c}`" for c in names) + ")"
        literals = [f"({', '.join(r)})" for r in rows]
        null = ""
    if len(rows) > _INSET_MIN:
        term = f"{col} IN ({', '.join(literals)})"
    elif len(names) == 1:
        term = f"array_contains(array({', '.join(literals)}), {col})"
    else:
        structs = ", ".join(
            "named_struct(" + ", ".join(
                f"{_sql_str(c)}, {x}" for c, x in zip(names, r)) + ")"
            for r in rows)
        term = f"array_contains(array({structs}), struct{col})"
    return f"({null}NOT {term})" if anti else term


def _without(df: DataFrame, deletes: dict,
             schema: T.StructType | None = None) -> DataFrame:
    """``df`` (whose schema is ``schema``, when given) less every row
    whose key is in ``deletes[key]`` (see :func:`_member`): one anti term
    per key, all in one filter written as SQL text — parsing it is one
    JVM call, where a ``Column`` per literal costs one each (0.44 s for
    1,024 values)."""
    schema = schema or df.schema
    terms = [_member(schema, key, values, anti=True)
             for key, values in deletes.items()]
    return df.filter(" AND ".join(terms)) if terms else df


def _isin(df: DataFrame, col: str, keys, anti: bool = False) -> DataFrame:
    """``df``'s rows whose column ``col`` is in the key set ``keys`` (with
    ``anti``: is not, a null ``col`` included).

    A key set has two forms (see :meth:`IncrementalEngine.apply_changes`).
    A Python list is one literal filter (:func:`_member`): it runs inside
    the job that reads ``df``, where a broadcast is a job of its own under
    adaptive execution, and it pushes down to the parquet scan. A
    one-column frame — the form of a batch too large to collect — is a
    broadcast semi- or anti-join."""
    if isinstance(keys, DataFrame):
        keys = F.broadcast(keys.toDF("_mr_keyset"))
        return df.join(keys, df[col] == keys["_mr_keyset"],
                       "left_anti" if anti else "left_semi")
    return df.filter(_member(df.schema, col, keys, anti))


def _beside(big: DataFrame, small: DataFrame) -> DataFrame:
    """``big`` ∪ ``small`` in ``big``'s partitions, for a ``small`` that a
    batch of literal key sets bounds: its rows join a partition of
    ``big``, with no shuffle, instead of each of its own partitions
    writing a parquet file for a few rows."""
    n = big.rdd.getNumPartitions()
    return big.unionByName(small, allowMissingColumns=True).coalesce(
        max(n, 1))


def _distinct(values) -> list:
    """``values`` without repeats or nulls, in first-seen order."""
    return [v for v in dict.fromkeys(values) if v is not None]


@dataclass
class _Handoff:
    """What a target hands its consumers for one batch, every key set in
    one form (see :func:`_isin`): the keys of its changed rows
    (``dirty``), the keys that lost a row (``lost``, a subset), and for a
    map target its freshly mapped rows (``inserts``; None for a reduce,
    whose hand-off is keys only, all of them lost)."""

    dirty: list | DataFrame
    lost: list | DataFrame
    inserts: DataFrame | None = None

    @property
    def literal(self) -> bool:
        return isinstance(self.dirty, list)


class ParquetStateStore:
    """Versioned parquet snapshots with one atomic state file — a minimal
    stand-in for Delta/Iceberg transactional tables on plain parquet.

    Layout: ``{root}/{table}/v{n}/`` per version + ``{root}/_STATE.json``
    holding ``{"tables": {table: n}, "handlers": {...}, "schemas":
    {...}, "counters": {...}}``, the committed state of the whole root,
    written via tmp+rename so readers never see a torn one. A root
    without the file (such as one written by older code, which kept
    per-table pointers) reads as empty, and a missing kind as no entries.

    Each version directory holds a ``_MANIFEST.json`` record, written
    after the data and before the commit. :meth:`read` opens a snapshot
    with the record's schema pinned, so opening one launches no Spark job
    — the table log, not the data files, types the read, as in
    Delta/Iceberg. A version comes in one of two shapes:

    - **snapshot** (:meth:`overwrite`): the directory holds the whole
      table, written by Spark; its record is ``{"schema": ...}``.
    - **delta** (:meth:`commit_delta`): the record is ``{"schema": ...,
      "files": ["v3", "v5", ...], "deletes": {key: [values]}}``, where a
      key names a column (``"id"``) or several (``"id,revision"``, whose
      values are value lists). The table is the union of the listed
      version directories (a snapshot base, then one parquet file per
      delta, written by pyarrow) less every row whose key is in
      ``deletes[key]`` — Iceberg v2's equality deletes with one global
      set per key, sound only while a deleted key never reappears in a
      later delta (fresh ids; an update's new row gets a fresh revision).
      A read is one parquet scan under one filter.

    A version directory without a record (written by older code) is read
    by schema inference, one small Spark job per open.

    Every commit inside a :meth:`transaction` publishes with ONE rename,
    so a multi-table engine batch is atomic — the property the
    reference's version-barrier machinery (SURVEY §2.7 T7) exists to
    fake; with atomic commits the barrier is structural.
    """

    def __init__(self, spark: SparkSession, root: str, retain: int = 2):
        """``retain`` controls snapshot GC depth. NOTE the read hazard:
        ``read()`` returns a lazy DataFrame pinned to a version directory —
        a caller holding one across ``retain`` later published versions
        of the same table gets FileNotFound at action time. Raise
        ``retain`` if external readers hold snapshots across batches."""
        self.spark = spark
        self.root = root
        self.retain = retain
        self._state = os.path.join(root, "_STATE.json")
        self._thread = threading.local()
        #: held across a publish's read-merge-rename of the state file
        self._publish = threading.Lock()
        os.makedirs(root, exist_ok=True)

    @property
    def _staged(self) -> dict | None:
        """The staged versions of this thread's open transaction, None
        outside one: another thread neither sees nor joins them."""
        return getattr(self._thread, "staged", None)

    @_staged.setter
    def _staged(self, staged: dict | None) -> None:
        self._thread.staged = staged

    def _dir(self, table: str) -> str:
        return os.path.join(self.root, table)

    def _manifest_path(self, table: str, v: int) -> str:
        return os.path.join(self._dir(table), f"v{v}", "_MANIFEST.json")

    def _load_manifest(self, table: str, v: int) -> dict | None:
        """The record of version ``v``, None for a directory without one."""
        try:
            with open(self._manifest_path(table, v)) as f:
                return json.load(f)
        except FileNotFoundError:
            return None

    def _write_manifest(self, table: str, v: int, manifest: dict) -> None:
        """Record ``v``'s manifest. Called after the data write (whose
        overwrite mode replaces the directory, an aborted attempt's
        record included) and before :meth:`_commit`."""
        with open(self._manifest_path(table, v), "w") as f:
            json.dump(manifest, f)

    def committed(self) -> dict:
        """The published state, ``{"tables": {table: version},
        "handlers": {key: version}, "schemas": {type: version}}`` — what
        a fresh store on this root sees, whatever transaction is open."""
        state = {kind: {} for kind in _STATE_KINDS}
        try:
            with open(self._state) as f:
                state.update(json.load(f))
        except FileNotFoundError:
            pass
        return state

    def _view(self, kind: str) -> dict:
        """The writer's view of ``kind``: committed entries overlaid by
        the staged ones of this thread's open transaction."""
        view, staged = self.committed()[kind], self._staged
        if staged is not None:
            view.update(staged[kind])
        return view

    @contextmanager
    def transaction(self):
        """Stage every commit made inside the block; the outermost block
        publishes them all with one rename on exit, then GCs the tables
        that changed. Outside a block each commit publishes at once. A
        block that raises publishes nothing; the next attempt overwrites
        its unpublished ``v{n}`` directories. Re-entrant: an inner block
        joins the outer one of the same thread. A transaction is the
        thread's own: other threads read only published versions while it
        is open, and their commits publish on their own."""
        if self._staged is not None:
            yield
            return
        self._staged = staged = {kind: {} for kind in _STATE_KINDS}
        try:
            yield
        finally:
            self._staged = None
        with self._publish:
            state = self.committed()
            for kind in staged:
                state[kind].update(staged[kind])
            with open(self._state + ".tmp", "w") as f:
                json.dump(state, f, sort_keys=True)
            os.replace(self._state + ".tmp", self._state)
        for table, v in staged["tables"].items():
            self._gc(table, keep=v)

    def version(self, table: str) -> int | None:
        return self._view("tables").get(table)

    def exists(self, table: str) -> bool:
        return self.version(table) is not None

    def read(self, table: str, keys=None,
             version: int | None = None) -> DataFrame:
        """Read the current snapshot. ``keys`` (an optional bounded list
        of key values) is a PRUNING HINT for stores that can skip files
        by key — this base store ignores it and scans the snapshot (the
        caller's filter still applies downstream). ``version`` pins the
        read at a specific version instead of the writer's view — the
        consistent-snapshot path (:meth:`IncrementalEngine.snapshot`);
        pinned versions stay readable for ``retain`` later published
        versions of the table. The recorded schema is pinned, so no
        Spark job runs until the caller acts on the frame; a delta
        version reads its file sets in one scan under its deletes."""
        v = self.version(table) if version is None else int(version)
        if v is None:
            raise KeyError(f"no state for table {table!r}")
        path = os.path.join(self._dir(table), f"v{v}")
        manifest = self._load_manifest(table, v)
        if manifest is None:
            return self.spark.read.parquet(path)
        if "files" not in manifest:
            return self.spark.read.schema(_schema(manifest)).parquet(path)
        paths = [os.path.join(self._dir(table), f) for f in manifest["files"]]
        schema = _schema(manifest)
        return _without(self.spark.read.schema(schema).parquet(*paths),
                        manifest["deletes"], schema)

    def overwrite(self, table: str, df: DataFrame,
                  dirty_keys=None,
                  inserts: DataFrame | None = None) -> None:
        """Commit a new snapshot. ``dirty_keys`` (the keys this batch may
        have touched, a key set: a list of keys or a one-column frame) is
        a hint for stores that can commit less than the
        full table; ``inserts``, when given, asserts the batch was PURE
        APPEND (``df`` equals the previous snapshot plus exactly these
        rows — no row was modified or removed), letting a store commit
        O(|inserts|) files instead of rewriting anything. This base store
        ignores both hints and rewrites everything."""
        v = (self.version(table) or 0) + 1
        path = os.path.join(self._dir(table), f"v{v}")
        df.write.mode("overwrite").parquet(path)
        self._write_manifest(table, v, {"schema": df.schema.json()})
        self._commit(table, v)

    def commit_delta(self, table: str, rows: list[dict],
                     deletes: dict[str, list] | None = None) -> None:
        """Commit ``rows`` (dicts, a missing or ``None`` field reads null)
        as new rows of ``table`` and delete every stored row whose key is
        in ``deletes[key]`` (a key names a string column, or several
        joined by ``,`` with value lists), at a cost of O(len(rows)):
        the rows go to one parquet file written in this process by
        pyarrow, with no Spark job, and the version's record lists the
        table's file sets and delete sets (see the class docstring).
        Their types are Spark's: inferred as ``createDataFrame`` infers
        them, merged into the recorded schema as ``unionByName`` merges
        it, and converted to Arrow as Spark Connect converts local data.

        Folds the table into one :meth:`overwrite` instead when the merge
        retypes a recorded column (not every older file reads as every
        wider type), when the table would hold more than ``COMPACT_AFTER``
        delta file sets or ``MAX_LITERALS`` delete values, or when its
        current version is not a delta or snapshot record. A deleted value
        must never be written again by a later delta: the delete sets
        apply to every file set."""
        deletes = {c: list(vals) for c, vals in (deletes or {}).items()
                   if vals}
        rows = [{k: x for k, x in r.items() if x is not None} for r in rows]
        new = self.spark.createDataFrame(rows) if rows else None
        prev = self.version(table)
        if prev is None:
            if new is None:
                raise KeyError(f"no state for table {table!r}")
            return self._write_delta(table, 1, rows, new.schema, ["v1"],
                                     deletes)
        manifest = self._load_manifest(table, prev)
        if manifest is not None and "buckets" not in manifest:
            recorded = _schema(manifest)
            schema = recorded if new is None else self.spark.createDataFrame(
                [], recorded).unionByName(new, allowMissingColumns=True).schema
            files = manifest.get("files", [f"v{prev}"])
            if rows:
                files = files + [f"v{prev + 1}"]
            dels = dict(manifest.get("deletes", {}))
            for key, vals in deletes.items():
                dels[key] = dels.get(key, []) + vals
            if (len(files) <= COMPACT_AFTER + 1
                    and sum(map(len, dels.values())) <= MAX_LITERALS
                    and all(f.dataType.simpleString()
                            == schema[f.name].dataType.simpleString()
                            for f in recorded.fields)):
                return self._write_delta(table, prev + 1, rows, schema,
                                         files, dels)
        folded = _without(self.read(table), deletes)
        if new is not None:
            folded = folded.unionByName(new, allowMissingColumns=True)
        self.overwrite(table, folded)

    def _write_delta(self, table: str, v: int, rows: list[dict],
                     schema: T.StructType, files: list[str],
                     deletes: dict) -> None:
        """Write ``rows`` as ``v{v}``'s one parquet file (none when there
        are no rows) with a delta record, and commit ``v{v}``."""
        import pyarrow.parquet as pq
        from pyspark.sql.conversion import LocalDataToArrowConversion

        path = os.path.join(self._dir(table), f"v{v}")
        # an unpublished attempt at v{v} leaves files behind: replace them
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        if rows:
            pq.write_table(LocalDataToArrowConversion.convert(
                rows, schema, use_large_var_types=False),
                os.path.join(path, "part-00000.parquet"))
        self._write_manifest(table, v, {"schema": schema.json(),
                                        "files": files, "deletes": deletes})
        self._commit(table, v)

    def _commit(self, table: str, v: int) -> None:
        """Make the written ``v{v}`` the table's version: staged in an
        open transaction, else published at once."""
        with self.transaction():
            self._staged["tables"][table] = v

    def _gc(self, table: str, keep: int) -> None:
        """Drop the version directories older than ``self.retain``
        versions back that no RETAINED version's record references.

        A version's record can reference directories arbitrarily far back
        (a delta's file sets, a bucket's owner chain; a no-op commit
        writes no files of its own), so a reader pinned at manifest
        ``keep-1`` needs the closure of every retained manifest — the
        same reachability rule Delta/Iceberg VACUUM uses."""
        referenced = set()
        for v in range(max(1, keep - self.retain + 1), keep + 1):
            manifest = self._load_manifest(table, v) or {}
            referenced |= {int(f[1:]) for f in manifest.get("files", ())}
            referenced |= {int(ver)
                           for vers in manifest.get("buckets", {}).values()
                           for ver in vers}
        d = self._dir(table)
        for name in os.listdir(d):
            if name.startswith("v") and name[1:].isdigit():
                vn = int(name[1:])
                if vn <= keep - self.retain and vn not in referenced:
                    shutil.rmtree(os.path.join(d, name), ignore_errors=True)

    # -- handler-version metadata (reference qvarnmr_handlers state,
    #    ``resync.py:52-74``) ------------------------------------------------

    def get_handler_versions(self) -> dict:
        return self._view("handlers")

    def set_handler_version(self, target: str, source: str, version: int) -> None:
        with self.transaction():
            self._staged["handlers"][f"{target}\x00{source}"] = version

    # -- schema versions of the tables a ResourceStore migrates -------------

    def get_schema_versions(self) -> dict:
        return self._view("schemas")

    def set_schema_version(self, name: str, version: int) -> None:
        with self.transaction():
            self._staged["schemas"][name] = version

    # -- counters -------------------------------------------------------------

    def reserve(self, counter: str, n: int) -> int:
        """Reserve the next ``n`` numbers of ``counter`` and return the
        first; the high-water mark publishes with the open transaction,
        so numbers reserved by a commit that fails are handed out again.
        A counter never reserved starts at 1."""
        with self.transaction():
            first = self._view("counters").get(counter, 0) + 1
            self._staged["counters"][counter] = first + n - 1
        return first


class BucketedParquetStateStore(ParquetStateStore):
    """State store whose commit cost is O(dirty buckets), not O(|table|).

    Snapshots are hash-partitioned on the view key into ``buckets`` buckets
    (``pmod(hash(key), B)``); each version directory holds parquet data only
    for the buckets that changed, plus a ``_MANIFEST.json`` mapping every
    bucket to the version directory that owns its current files. Untouched
    buckets keep pointing at the files an earlier version wrote — those
    files are never rewritten, so a 1k-row dirty batch against a huge map
    table commits a handful of bucket files instead of the whole snapshot.

    This is the same metadata-over-immutable-files design Delta/Iceberg use
    for MERGE (docstring of :class:`ParquetStateStore`); it makes the
    engine's O(delta) claim demonstrable on plain parquet. The per-commit
    driver work is one ≤B-row collect of dirty bucket ids — metadata-sized,
    independent of table size.

    The manifest is the base store's per-version record extended with
    ``buckets``: ``{"buckets": {bucket: [owner versions, oldest first]},
    "schema": ...}``. Reads pin the recorded schema, as the base store's
    do. Tables lacking ``key_col`` (e.g. dead-letter queues) fall back to
    the plain full-rewrite path, whose record carries only ``schema``.
    """

    def __init__(self, spark: SparkSession, root: str, retain: int = 2,
                 buckets: int = 16, key_col: str = "_mr_key",
                 compact_after: int = 8):
        super().__init__(spark, root, retain=retain)
        self.buckets = buckets
        self.key_col = key_col
        #: max append-chain length per bucket before the next commit
        #: rewrites that bucket in full (LSM/Delta-style compaction —
        #: bounds read amplification to ``compact_after`` file sets)
        self.compact_after = compact_after

    def _bucket_expr(self):
        return F.pmod(F.hash(F.col(self.key_col)), F.lit(self.buckets))

    def _buckets_of(self, keys, dtype: T.DataType) -> set[int]:
        """The buckets a key set (a list, or a frame with ``key_col``)
        hashes into, with the exact hash the writer used, so Python and
        JVM hashing can never drift. Keys hash as ``dtype``, the stored
        key's type — a hand-off's keys are the map's strings, and a
        reduce may store them as longs. A frame's buckets are one tiny
        Spark job. A list's keys are typed as a literal filter types them
        (:func:`_sql_lit`), and its buckets are one constant over a
        one-row inline table, which the optimizer folds: no Spark job."""
        if isinstance(keys, list):
            if not keys:
                return set()
            terms = ", ".join(
                f"pmod(hash({'NULL' if k is None else _sql_lit(k, dtype)}),"
                f" {self.buckets})" for k in keys)
            return set(self.spark.sql(
                f"SELECT array({terms}) FROM VALUES (1)").collect()[0][0])
        keys = keys.select(F.col(self.key_col).cast(dtype)
                           .alias(self.key_col))
        return {r[0] for r in keys.select(
            self._bucket_expr().alias("b")).distinct().collect()}

    def overwrite(self, table: str, df: DataFrame,
                  dirty_keys=None,
                  inserts: DataFrame | None = None) -> None:
        if self.key_col not in df.columns:
            return super().overwrite(table, df)
        prev_v = self.version(table)
        # the owner chains of the previous version; None when it has none
        # (no previous version, or one written by the full-rewrite path)
        prev = None
        if prev_v is not None:
            prev = (self._load_manifest(table, prev_v) or {}).get("buckets")
        v = (prev_v or 0) + 1
        path = os.path.join(self._dir(table), f"v{v}")

        append_buckets: set = set()
        if dirty_keys is None or prev is None:
            data, dirty_buckets = df, None          # full rewrite
        else:
            # ≤B distinct bucket ids — a metadata-sized collect by design
            dirty_buckets = self._buckets_of(
                dirty_keys, df.schema[self.key_col].dataType)
            if inserts is not None:
                # PURE-APPEND commit (the O(delta) hot path for insert-only
                # CDC batches): write only the inserted rows; untouched
                # files of the same bucket stay owned by earlier versions,
                # so a 3-row insert into a 10⁷-member hot cluster commits
                # 3 rows, not the cluster. Buckets whose owner chain would
                # exceed ``compact_after`` are rewritten in full instead
                # (compaction), keeping read fan-in bounded.
                append_buckets = {
                    b for b in dirty_buckets
                    if len(prev.get(str(b), []))
                    < self.compact_after}
                compact = dirty_buckets - append_buckets
                data = inserts.filter(
                    self._bucket_expr().isin(append_buckets))
                if compact:
                    data = data.unionByName(
                        df.filter(self._bucket_expr().isin(compact)))
            else:
                data = df.filter(self._bucket_expr().isin(dirty_buckets))

        (data.withColumn("_bucket", self._bucket_expr())
             .write.mode("overwrite").partitionBy("_bucket").parquet(path))
        written = {int(n.split("=", 1)[1]) for n in os.listdir(path)
                   if n.startswith("_bucket=")}
        if dirty_buckets is None:
            buckets = {str(b): [v] for b in written}
        else:
            # untouched buckets keep their owning versions; a dirty bucket
            # that came out empty (all its keys vanished) drops out entirely
            buckets = {b: ver for b, ver in prev.items()
                       if int(b) not in dirty_buckets}
            # a pure-append bucket EXTENDS its owner chain (older files
            # still hold live rows); a rewritten bucket resets to [v]
            buckets.update({
                str(b): (prev.get(str(b), []) + [v]
                         if b in append_buckets else [v])
                for b in written})
            # an append into a previously-present bucket that wrote no
            # file (empty insert slice) keeps its old chain via the
            # carry-over above only if it wasn't dirty; dirty-but-unwritten
            # append buckets must still carry their old files forward
            for b in append_buckets - written:
                if str(b) in prev:
                    buckets[str(b)] = prev[str(b)]
        self._write_manifest(table, v, {"buckets": buckets,
                                        "schema": df.schema.json()})
        self._commit(table, v)

    def read(self, table: str, keys=None,
             version: int | None = None) -> DataFrame:
        """Read the current snapshot; with ``keys`` (a BOUNDED list of
        key values — probe routes, dirty keys), prune at the MANIFEST:
        only the bucket directories those keys hash into are listed at
        all — the file-level analogue of partition pruning, on top of
        whatever row-group skipping a pushed predicate buys. The
        buckets come from the writer's own hash, folded to a constant
        with no Spark job (:meth:`_buckets_of`). The
        caller still applies its own key filter (a bucket holds other
        keys too). ``version`` pins the read at a specific committed
        manifest (the consistent-snapshot path) — the manifest-closure
        GC keeps every retained manifest's bucket chain on disk."""
        v = self.version(table) if version is None else int(version)
        if v is None:
            raise KeyError(f"no state for table {table!r}")
        manifest = self._load_manifest(table, v)
        if manifest is None or "buckets" not in manifest:
            return super().read(table, version=v)
        buckets = manifest["buckets"]
        schema = _schema(manifest)
        if keys is not None:
            wanted = self._buckets_of(list(keys),
                                      schema[self.key_col].dataType)
            buckets = {b: vers for b, vers in buckets.items()
                       if int(b) in wanted}
        paths = [os.path.join(self._dir(table), f"v{ver}", f"_bucket={b}")
                 for b, vers in buckets.items()
                 for ver in vers]
        if not paths:
            return self.spark.createDataFrame([], schema)
        # Pin the read schema to the manifest's: an owner chain mixes files
        # from many commits, and Spark's default single-sample-file
        # inference would make column presence depend on WHICH file it
        # sampled. With the committed schema, columns absent from an older
        # file read as null deterministically.
        return self.spark.read.schema(schema).parquet(*paths)


@dataclass
class IncrementalEngine:
    """Applies CDC batches to stored derived tables.

    ``changes`` schema mirrors the reference's notification feed
    (``processor.py:17-27``): ``resource_type string, resource_change string
    (created|updated|deleted), resource_id string``. Feed ordering
    (``last_modified`` — ``[qvarn] listener_resource.py:207-214``) is only
    needed to resolve multiple changes to the SAME id within one batch; we
    keep the *final* state per id, which is what replaying the feed in order
    yields (the map upsert is delete-then-insert, so intermediate states
    never survive a batch anyway).

    Strict (reference-shape) configs apply as map targets then reduce
    targets; extended DAGs (map-over-derived, reduce-of-reduce, arbitrary
    acyclic depth) apply in topological order with per-edge dirty
    propagation: each derived target's changed-key set becomes a synthetic
    notification batch for its consumers (see :meth:`_derived_changes`).
    The reference cannot do this at all — its engine routes one external
    notification at a time.
    """

    engine: ViewEngine
    store: ParquetStateStore

    @property
    def catalog(self) -> Catalog:
        return self.engine.catalog

    # -- bootstrap / resync (T8) --------------------------------------------

    def resync(self, target: str) -> None:
        """Full rebuild of one target — bootstrap and handler-upgrade path.

        Reference: ``resync.py:91-128`` walks every source id through the
        normal notification path in chunks of 100, with per-row same-version
        skips so an interrupted resync resumes. Here the rebuild is ONE
        batch pipeline + one store transaction: the rebuilt table and its
        handler version publish together, and an interruption leaves both
        at their old versions, so the skip machinery is unnecessary.
        """
        sources = self.engine.config[target]
        first = next(iter(sources.values()))
        with self.store.transaction():
            if isinstance(first, REDUCE_SPECS):
                ((src, spec),) = sources.items()
                # stored snapshot if present; else batch-recompute the
                # source (_resolve dispatches map vs reduce for deep DAGs)
                map_df = self.store.read(src) if self.store.exists(src) \
                    else self.engine._resolve(src)
                self.store.overwrite(target,
                                     self.engine.reduce_table(target, map_df))
                self.store.set_handler_version(target, src, spec.version)
            else:
                # map-over-derived sources read the STORED upstream
                # snapshot, not a catalog recompute (same preference as the
                # reduce branch above and the incremental path): if the
                # stored upstream lags the catalog (pending dead letters,
                # undrained feed), a catalog rebuild would transiently
                # diverge from the stored parent level
                overrides = {src: self.store.read(src) for src in sources
                             if src in self.engine.config
                             and self.store.exists(src)}
                self.store.overwrite(
                    target, self.engine.map_table(target, overrides or None))
                for src, spec in sources.items():
                    self.store.set_handler_version(target, src, spec.version)

    def resync_all(self) -> None:
        """Rebuild every target in dependency order — the reference's
        startup resync loop (``scripts/worker.py:66-71``); topological
        order generalizes its map-then-reduce pass to deep DAGs. One
        store transaction: snapshots opened mid-rebuild resolve to the
        whole pre-rebuild state."""
        with self.store.transaction():
            for target in self._topo_targets():
                self.resync(target)

    def _changed_targets(self) -> list[str]:
        """Targets whose configured handler version differs from the stored
        one (``resync.py:77-88`` version diff), PLUS every transitive
        consumer of such a target: a re-mapped table changes its reduces'
        inputs even though their own handler versions are untouched. The
        reference gets this for free by walking every resynced id through
        the notification path (``resync.py:100``, re-reducing dirty keys);
        the one-shot overwrite here must expand the closure explicitly —
        without it a map-handler upgrade leaves downstream views silently
        stale."""
        meta = self.store.get_handler_versions()
        changed = set()
        for target, sources in self.engine.config.items():
            for src, spec in sources.items():
                if meta.get(f"{target}\x00{src}") != spec.version or \
                        not self.store.exists(target):
                    changed.add(target)
                    break
        # downstream closure over config edges, to a fixpoint
        grew = True
        while grew:
            grew = False
            for target, sources in self.engine.config.items():
                if target not in changed and \
                        any(s in changed for s in sources):
                    changed.add(target)
                    grew = True
        # dependency order (maps-before-reduces in the strict shape,
        # full topological order for deep DAGs)
        pos = {t: i for i, t in enumerate(self._topo_targets())}
        return sorted(changed, key=pos.__getitem__)

    def resync_changed(self) -> list[str]:
        """Resync only targets whose configured handler version differs from
        the stored one (``resync.py:77-88`` version diff). One store
        transaction, like resync_all — a handler upgrade's map and reduce
        rebuilds and their handler versions publish together, so a crash
        mid-upgrade leaves every target changed for the rerun."""
        changed = self._changed_targets()
        with self.store.transaction():
            for target in changed:
                self.resync(target)
        return changed

    def resync_interleaved(self, drain=None, chunks: int = 8) -> list[str]:
        """Chunked resync of version-changed targets, with live changes
        processed between chunks.

        The reference never suspends live processing for a backfill: the
        worker interleaves notification batches between resync chunks of
        100 ids (``scripts/worker.py:66-71``, ``resync.py:100,120``).
        Spark form: each chunk is a hash-slice of the *current* source scan
        (``pmod(xxhash64(id), chunks) == i``) pushed through the normal
        notification path (:meth:`apply_changes`), so no id list is ever
        collected to the driver and every chunk is a predicate-filtered
        scan. ``drain()`` — typically
        :meth:`~qvarn_mr_spark.streaming.maintainer.StreamingMaintainer.
        run_available` — runs between chunks to apply notifications that
        arrived while the backfill was running.

        Pick ``chunks`` so one slice of source ids stays comfortably
        broadcastable (~10M ids); the chunk count is the knob that bounds
        both per-chunk work and live-update latency during a backfill.

        Unlike the one-shot :meth:`resync` (whose atomic overwrite drops
        them for free), the chunked path must clean up drift explicitly: a
        final synthetic ``deleted`` batch removes map rows whose source row
        vanished without a delete notification, so the end state equals a
        full recompute. Each slice commits atomically before ``drain()``;
        handler versions publish after the last, so an interrupted
        backfill reruns from the first slice.
        """
        drain = drain or (lambda: None)
        changed = self._changed_targets()
        for target in changed:
            sources = self.engine.config[target]
            first = next(iter(sources.values()))
            if isinstance(first, REDUCE_SPECS):
                ((src, spec),) = sources.items()
                if not self.store.exists(src):
                    # no stored map yet: nothing to slice — one-shot bootstrap
                    self.resync(target)
                else:
                    for i in range(chunks):
                        # the slice's stored keys, all lost and none
                        # gained: each slice key recomputes its full group
                        keys = (self.store.read(src)
                                .filter(F.pmod(F.xxhash64("_mr_key"),
                                               F.lit(chunks)) == F.lit(i))
                                .select("_mr_key"))
                        with _held_frames() as held:
                            self._apply_reduce(target, sources,
                                               _Handoff(keys, keys), held)
                        drain()
                self.store.set_handler_version(target, src, spec.version)
            elif any(s in self.engine.config for s in sources):
                # map-over-derived: its input is a stored table this same
                # resync pass rebuilds, so chunk-slicing the catalog makes
                # no sense — one-shot rebuild after upstream finished
                # (topo order of _changed_targets guarantees that)
                self.resync(target)
                drain()
            else:
                for i in range(chunks):
                    self.apply_changes(self._resync_batch(sources, chunks, i))
                    drain()
                stale = self._stale_delete_batch(target, sources)
                if not stale.isEmpty():
                    self.apply_changes(stale)
                for src, spec in sources.items():
                    self.store.set_handler_version(target, src, spec.version)
                drain()
        return changed

    def _resync_batch(self, sources: dict, chunks: int, i: int) -> DataFrame:
        """Synthetic ``updated`` notifications for hash-slice ``i`` of each
        source's current ids (``resync.py:15-24``, chunked per
        ``resync.py:100``)."""
        parts = []
        for source in sources:
            src_df = self.catalog.get(source)
            id_col = self.engine._id_col(source)
            parts.append(
                src_df.select(
                    F.lit(source).alias("resource_type"),
                    F.lit(UPDATED).alias("resource_change"),
                    src_df[id_col].cast("string").alias("resource_id"),
                    F.lit(1).cast("long").alias("seq"))
                .filter(F.pmod(F.xxhash64(F.col("resource_id")),
                               F.lit(chunks)) == F.lit(i)))
        return _union(parts)

    def _stale_delete_batch(self, target: str, sources: dict) -> DataFrame:
        """Synthetic ``deleted`` notifications for map rows whose source row
        no longer exists — drift that accumulated while the chunked resync
        ran (or before it, if delete notifications were lost)."""
        old = self.store.read(target)
        parts = []
        for source in sources:
            src_df = self.catalog.get(source)
            id_col = self.engine._id_col(source)
            ids = src_df.select(
                src_df[id_col].cast("string").alias("resource_id"))
            mine = (old.filter(F.col("_mr_source_type") == source)
                    .select(F.col("_mr_source_id").alias("resource_id"))
                    .distinct())
            parts.append(
                mine.join(ids, "resource_id", "left_anti")
                .select(F.lit(source).alias("resource_type"),
                        F.lit(DELETED).alias("resource_change"),
                        "resource_id",
                        F.lit(1).cast("long").alias("seq")))
        return _union(parts)

    # -- incremental application (T2-T5, A8) ---------------------------------

    def apply_changes(self, changes: DataFrame) -> None:
        """Apply one CDC micro-batch to every derived table it touches.

        This is the batch form of ``MapReduceEngine.process_changes``
        (``processor.py:426-434``), generalized to any acyclic config:
        targets apply in topological order, and a map target whose source
        is itself a derived target consumes a SYNTHETIC change batch built
        from that target's dirty keys of this batch — per-edge dirty
        propagation, so a 5-level pipeline stays O(delta) end to end. For
        strict (reference-shape) configs the topo order degenerates to
        "map targets first, then reduce targets".

        The batch is reduced to its last change per ``(resource_type,
        resource_id)`` once and collected once, at most ``MAX_LITERALS +
        1`` rows of it. That bound picks the form of every key set the
        batch derives (:func:`_isin`): a batch of at most ``MAX_LITERALS``
        changed ids — a trickle of notifications, the reference's own
        traffic — stays a Python list, and so does each key set after it,
        each a literal filter; a larger one stays a frame, which every map
        target reads from the blocks the collect stored (a local
        checkpoint), and so do its key sets, each a broadcast join. Each target's
        hand-off to its consumers (see :meth:`_apply_map` and
        :meth:`_apply_reduce`) stays in memory for the batch; a map target
        that hands nothing on (no map row changed) skips its reduces. The
        batch is one store transaction: a batch that raises leaves every
        table at its pre-batch version for the replay.
        """
        if "seq" not in changes.columns:
            # without an order column "which change wins" would depend on
            # task scheduling; the feed contract always provides seq
            raise ValueError(
                "change batch lacks a 'seq' ordering column; "
                "last-change-wins needs a deterministic order "
                "(see notifications() / NOTIFICATION_SCHEMA)")
        handoff: dict[str, _Handoff] = {}
        with _held_frames() as held, self.store.transaction():
            # final change per resource id — replay-order equivalent (see
            # class doc). Checkpointed locally: the collect stores the rows
            # it computes, and a larger batch's map targets read them
            # instead of aggregating again. A cache would cost a job of
            # its own, as adaptive execution materializes a cache apart
            # from the query that reads it; a checkpoint's lost block
            # fails the batch, which then replays
            changes = (changes.groupBy("resource_type", "resource_id")
                       .agg(F.max_by("resource_change", "seq")
                            .alias("change"))).localCheckpoint(eager=False)
            held.append(changes)
            rows = changes.limit(MAX_LITERALS + 1).collect()
            if len(rows) <= MAX_LITERALS:
                changes = [tuple(r) for r in rows]
            for target in self._topo_targets():
                sources = self.engine.config[target]
                if isinstance(next(iter(sources.values())), REDUCE_SPECS):
                    (src,) = sources
                    if src in handoff:
                        handoff[target] = self._apply_reduce(
                            target, sources, handoff[src], held)
                    continue
                eff = changes
                for src in sources:
                    if src in handoff:
                        eff = self._concat(eff, self._derived_changes(
                            src, handoff[src].dirty))
                out = self._apply_map(target, sources, eff, held)
                if out is not None:
                    handoff[target] = out

    def _concat(self, a, b):
        """Two change sets as one, a list while both are lists."""
        if isinstance(a, list) and isinstance(b, list):
            return a + b
        a, b = (x if isinstance(x, DataFrame) else
                self.catalog.spark.createDataFrame(x, _CHANGE_SCHEMA)
                for x in (a, b))
        return a.unionByName(b)

    def _topo_targets(self) -> list[str]:
        """Config targets in dependency order (sources before consumers),
        stable w.r.t. config insertion order among independents."""
        config = self.engine.config
        out: list[str] = []
        state: dict[str, int] = {}

        def visit(t: str) -> None:
            if t not in config or state.get(t) == 1:
                return
            state[t] = 0
            for src in config[t]:
                visit(src)
            state[t] = 1
            out.append(t)

        for t in config:
            visit(t)
        return out

    def _derived_changes(self, source: str, dirty):
        """Synthetic notifications for a DERIVED source, in the shape
        :meth:`apply_changes` gives a batch after last-change-wins: each
        of the ``dirty`` keys its own apply handed on this batch (a key
        set: a list, or a frame whose ``_mr_key`` column holds them),
        once, with ``change`` ``updated`` (key still in the stored table)
        or ``deleted`` (key vanished — empty-group elimination upstream),
        named by the key's string form (``cast('string')``, the form the
        consumer's map gives ``_mr_source_id``). The stored table is
        filtered by the batch's keys before anything aggregates it, so the
        liveness check is batch-sized; a list's check is one collect, and
        its notifications are a list. A list's keys come from a map's
        rows, which carry their keys in that string form already; the
        stored keys are cast alike, so a reduce that declares another
        key type still matches them."""
        cur = self.store.read(
            source, keys=dirty if isinstance(dirty, list) else None
        ).select("_mr_key")
        if isinstance(dirty, list):
            live = {k for (k,) in _isin(cur, "_mr_key", dirty).select(
                F.col("_mr_key").cast("string")).collect()}
            return [(source, k, UPDATED if k in live else DELETED)
                    for k in dirty]
        keys = dirty.select("_mr_key")
        cur = _isin(cur, "_mr_key", keys).distinct()
        flagged = keys.distinct().join(
            cur.withColumn("_live", F.lit(True)), "_mr_key", "left")
        return flagged.select(
            F.lit(source).alias("resource_type"),
            F.col("_mr_key").cast("string").alias("resource_id"),
            F.when(F.col("_live").isNotNull(), F.lit(UPDATED))
             .otherwise(F.lit(DELETED)).alias("change"))

    def _source_df(self, source: str) -> DataFrame:
        """A map stage's input rows: catalog collection, or the STORED
        snapshot of a derived target."""
        if source in self.engine.config:
            return self.store.read(source)
        return self.catalog.get(source)

    def _apply_map(self, target: str, sources: dict, changes,
                   held: list) -> _Handoff | None:
        """T2 upsert + T3 delete for one map target.

        ``changes`` holds one ``(resource_type, resource_id, change)`` row
        per changed id (see :meth:`apply_changes`): a list, or a frame
        for a batch too large to collect. Commits the new map snapshot
        and returns this batch's hand-off to the target's consumers, in
        the same key-set form. It is built from ONE signed delta frame —
        the map columns plus ``_mr_weight``, +1 for each freshly mapped
        row, −1 for each old row of a changed id, and 0 for an upserted
        id missing from its source (a dead letter; with lists, the delta
        carries each id found in a source at a null weight instead, and
        the dead letters are the upserted ids it lacks) — cached into
        ``held`` with the partitioning of the scans it is built from, and
        read coalesced to one task per core. A −1 row means the batch is not
        insert-only, a dead letter that the dead-letter table needs a
        commit, and no ±1 row that the map table is unchanged — then
        nothing is committed and None is returned, so consumers skip the
        batch. Each part of the delta is a key-set filter (:func:`_isin`)
        of a scan:
        - surviving rows = old less changed ids (per source type)
        - retracted rows = old rows of changed ids
        - fresh rows     = map(source rows of upserted ids)
        A deleted id's rows simply go (T3, see the module docstring).

        With lists, every filter is a literal, so the delta has no join
        and one Spark job collects its key columns: the weights, the
        dirty and lost keys of the hand-off and the dead letters need no
        other job, and the fresh rows are written beside the surviving
        ones, in their partitions (:func:`_beside`). With frames the
        filters broadcast-join and one more action counts the delta's
        rows per weight. On Delta this whole function is one ``MERGE``;
        the shape (the small changed-id set against the big map table)
        is identical.
        """
        literal = isinstance(changes, list)
        old = self.store.read(target) if self.store.exists(target) else None
        survivors, parts, upserts = [], [], {}
        for source, spec in sources.items():
            if literal:
                ch = [(rid, c) for t, rid, c in changes if t == source]
                changed = _distinct(rid for rid, _ in ch)
                upserted = _distinct(rid for rid, c in ch if c != DELETED)
                upserts[source] = upserted
            else:
                ch = changes.filter(F.col("resource_type") == source)
                changed = ch.select("resource_id")
                upserted = ch.filter(F.col("change") != DELETED).select(
                    "resource_id")
            src_df = self._source_df(source)
            id_col = self.engine._id_col(source)
            hit = _isin(src_df.withColumn(
                "_mr_rid", src_df[id_col].cast("string")), "_mr_rid", upserted)
            parts.append(self.engine._map_one(source, spec,
                                              hit.drop("_mr_rid"))
                         .withColumn("_mr_weight", F.lit(1)))
            if old is not None:
                mine = old.filter(F.col("_mr_source_type") == source)
                survivors.append(_isin(mine, "_mr_source_id", changed,
                                       anti=True))
                parts.append(_isin(mine, "_mr_source_id", changed)
                             .withColumn("_mr_weight", F.lit(-1)))
            # T11/T6 dead-letter: an upsert notification whose resource is
            # absent from the source (the reference's not-yet-replicated 404,
            # processor.py:346-355, retried then dropped) is recorded rather
            # than silently producing nothing. Probed against the ids the
            # batch found, not the source's whole id column; not inferred
            # from the +1 rows, which a ``where=`` map may drop. A list's
            # found ids ride in the delta under a null weight
            found = hit.select(F.lit(source).alias("_mr_source_type"),
                               F.col("_mr_rid").alias("_mr_source_id"))
            if literal:
                parts.append(found.withColumn("_mr_weight",
                                              F.lit(None).cast("int")))
            else:
                parts.append(_isin(upserted, "resource_id",
                                   found.select("_mr_source_id"), anti=True)
                             .select(F.lit(source).alias("_mr_source_type"),
                                     F.col("resource_id")
                                     .alias("_mr_source_id"),
                                     F.lit(0).alias("_mr_weight")))
        delta = _union(parts)
        held.append(delta.cache())
        if literal:
            rows = delta.select("_mr_weight", "_mr_key", "_mr_source_type",
                                "_mr_source_id").collect()
            weights = {w for w, *_ in rows if w is not None}
            found = {(t, i) for w, _, t, i in rows if w is None}
            dead = [(t, i) for t, ids in upserts.items() for i in ids
                    if (t, i) not in found] or None
        else:
            weights = {w for w, _ in
                       delta.groupBy("_mr_weight").count().collect()}
            dead = delta.filter(F.col("_mr_weight") == 0).select(
                F.col("_mr_source_type").alias("resource_type"),
                F.col("_mr_source_id").alias("resource_id")) \
                if 0 in weights else None
        delta = delta.coalesce(
            self.catalog.spark.sparkContext.defaultParallelism)
        if literal:
            dirty = _distinct(k for w, k, *_ in rows if w in (1, -1))
            lost = _distinct(k for w, k, *_ in rows if w == -1)
        if not literal or len(dirty) > MAX_LITERALS:
            # a larger batch, or a map that fans out past the bound
            dirty = delta.filter(F.col("_mr_weight").isin(1, -1)).select(
                "_mr_key")
            lost = delta.filter(F.col("_mr_weight") == -1).select("_mr_key")
        inserts = delta.filter(F.col("_mr_weight") == 1).drop("_mr_weight")
        rows_changed = bool(weights & {1, -1})
        if rows_changed:
            # PURE-APPEND detection: no existing map rows under the changed
            # ids ⇒ new = old ∪ inserts exactly, and a bucketed store may
            # commit just those rows (O(delta) even when a hot key's group
            # holds millions of rows). Every row-level difference between
            # old and new lives under a dirty key (survivors only lose
            # dirty-source rows; inserts carry dirty keys), so a bucketed
            # store may commit dirty buckets only.
            written = (_beside(_union(survivors), inserts)
                       if literal and survivors
                       else _union(survivors + [inserts]))
            self.store.overwrite(
                target, written, dirty_keys=dirty,
                inserts=inserts if old is not None and -1 not in weights
                else None)
        if dead is not None:
            self._record_dead_letters(target, dead)
        return _Handoff(dirty, lost, inserts) if rows_changed else None

    def _apply_reduce(self, target: str, sources: dict, handoff: _Handoff,
                      held: list) -> _Handoff:
        """T4/T5 dirty-key group recompute + A8 empty-group delete.

        new_reduce = old_reduce (keys not dirty)
                   ∪ recompute(map ⋉ ready dirty_keys)  — dropped groups
                                                           simply emit no row
        ``handoff`` is the source's (:meth:`_apply_map`): the dirty keys
        are those of its changed rows, the lost keys those of its
        retracted rows, and every step is a key-set filter in the form
        they come in (:func:`_isin`) — with lists, the reduce's one
        shuffle, the broadcast of the prior values it merges into, and
        the write are its only Spark jobs, and the recomputed rows are
        written beside the kept ones (:func:`_beside`). Returns the ready
        dirty keys, all of them lost — the hand-off to this reduce's own
        consumers.

        **Version barrier (T7)**: a dirty key whose live map rows mix
        handler versions — possible mid-:meth:`resync_interleaved`, when a
        later chunk hasn't re-mapped the key's other rows yet — is
        POSTPONED, keeping its old reduce value, exactly the reference's
        half-synced skip (``processor.py:360-371``, conformance
        ``tests/test_processor.py:160-232``). The chunk that re-maps the
        key's last old row marks it dirty again and it reduces then; an
        aborted resync leaves the stored handler version unchanged, so the
        next startup resync finishes the job. The scan for such keys runs
        only while the stored handler version of some source of the map
        differs from the configured one (mid-:meth:`resync_interleaved`,
        or after a handler bump before its resync): otherwise every live
        row has the configured version. The versions come from the state
        file, with no Spark job.
        """
        ((src, spec),) = sources.items()
        dirty, lost, literal = handoff.dirty, handoff.lost, handoff.literal
        map_df = self.store.read(src, keys=dirty if literal else None)
        # version-barrier postponement applies to map-table sources; a
        # reduce-of-reduce source has no per-row handler versions (its
        # atomic overwrite IS the barrier)
        from_map = "_mr_version" in map_df.columns
        stored = self.store.get_handler_versions()
        mspecs = self.engine.config[src].items()
        if from_map and any(stored.get(f"{src}\x00{st}") != mspec.version
                            for st, mspec in mspecs):
            ver_map = F.create_map(*[
                x for st, mspec in mspecs
                for x in (F.lit(st), F.lit(mspec.version))])
            stale = (_isin(map_df, "_mr_key", dirty)
                     .filter(F.col("_mr_version")
                             != ver_map[F.col("_mr_source_type")])
                     .select("_mr_key"))
            if literal:
                stale = {k for (k,) in stale.collect()}
                dirty = [k for k in dirty if k not in stale]
                lost = [k for k in lost if k not in stale]
            else:
                dirty = _isin(dirty, "_mr_key", stale.distinct(), anti=True)
                # cached: the filters below and this reduce's consumers
                # reuse it
                held.append(dirty.cache())
                lost = _isin(lost, "_mr_key", dirty)
        old = self.store.read(target) if self.store.exists(target) else None

        # Algebraic IVM (beyond the reference's always-full-group recompute,
        # processor.py:192-227): when the spec declares a merge for EVERY
        # output alias, gained keys — dirty keys that gained rows this
        # batch but lost none (the dominant case for append-heavy feeds) —
        # are maintained as merge(old_value, reduce(delta rows)). Work is
        # O(batch delta), not O(Σ dirty groups): a hot key with 10⁸ map rows
        # costs the same to maintain as one with 10. Lost keys (update/
        # delete: keys of the −1 rows) still recompute their whole group,
        # which is what keeps non-invertible merges (min/max) exact. One
        # reduce covers both; every gained key has a +1 row, so it is on
        # the left of the join that merges its old value in.
        merges = getattr(spec, "merge", None)
        if (merges and set(merges) == set(spec.aggs) and old is not None
                and from_map):
            if literal:
                gone = set(lost)
                gained = [k for k in dirty if k not in gone]
            else:
                gained = _isin(dirty, "_mr_key", lost, anti=True)
            rows = [_isin(map_df, "_mr_key", lost)]
            if handoff.inserts is not None:
                rows.append(_isin(handoff.inserts, "_mr_key", gained))
            reduced = self.engine.reduce_table(target, _union(rows))
            prior = (_isin(old, "_mr_key", gained)
                     .select("_mr_key",
                             *[F.col(a).alias(f"__old_{a}") for a in merges])
                     .withColumn("__has_old", F.lit(True)))
            # presence flag, not value nullness, decides whether an old
            # value exists, so a legitimately-NULL aggregate merges too
            new = reduced.join(F.broadcast(prior), "_mr_key", "left").select(
                "_mr_key",
                *[F.when(F.col("__has_old").isNull(), F.col(a))
                  .otherwise(fn(F.col(f"__old_{a}"), F.col(a))).alias(a)
                  for a, fn in merges.items()])
        else:
            new = self.engine.reduce_table(
                target, _isin(map_df, "_mr_key", dirty))
        if old is not None:
            keep = _isin(old, "_mr_key", dirty, anti=True)
            new = _beside(keep, new) if literal else keep.unionByName(
                new, allowMissingColumns=True)
        self.store.overwrite(target, new, dirty_keys=dirty)
        return _Handoff(dirty, dirty)

    def _record_dead_letters(self, target: str, dead) -> None:
        """Append (set-union) the missing-resource notifications of every
        source — ``dead``, ``(resource_type, resource_id)`` pairs as a
        list or a frame — to ``{target}__dead_letter`` in one commit: the
        replacement for the reference's drop-after-3-retries
        (``processor.py:261-280``): nothing is silently lost, and an
        operator can replay the table once the source catches up."""
        dl = dead if isinstance(dead, DataFrame) else \
            self.catalog.spark.createDataFrame(
                dead, "resource_type string, resource_id string")
        table = target + "__dead_letter"
        if self.store.exists(table):
            dl = self.store.read(table).unionByName(dl).distinct()
        self.store.overwrite(table, dl)

    def dead_letters(self, target: str) -> DataFrame:
        """The not-yet-applied notifications for ``target`` (empty if none)."""
        table = target + "__dead_letter"
        if not self.store.exists(table):
            return self.catalog.spark.createDataFrame(
                [], "resource_type string, resource_id string")
        return self.store.read(table)

    def replay_dead_letters(self, target: str) -> int:
        """Re-enqueue dead-lettered notifications whose resource has since
        appeared in its source, removing the replayed entries from
        ``{target}__dead_letter``. Returns the number replayed.

        Lossless completion of T6/T11: the reference retries 0.25 s → 1.5 s
        then DROPS the notification (``processor.py:282-304``); we record
        (:meth:`_record_dead_letters`) and replay once the source catches
        up. Entries whose resource is still missing stay queued for a later
        replay. The dead-letter table is exceptional-case-sized, so the
        full-table window for ``seq`` is deliberate, not a skew hazard.
        """
        from pyspark.sql import Window

        table = target + "__dead_letter"
        if not self.store.exists(table):
            return 0
        dl = self.store.read(table)
        ready_parts = []
        for source in self.engine.config[target]:
            src_df = self._source_df(source)
            id_col = self.engine._id_col(source)
            mine = dl.filter(F.col("resource_type") == source)
            ready_parts.append(mine.join(
                src_df.select(
                    src_df[id_col].cast("string").alias("resource_id")),
                "resource_id", "left_semi"))
        ready = _union(ready_parts)
        with _held_frames() as held, self.store.transaction():
            held.append(ready.cache())
            n = ready.count()
            if n == 0:
                return 0
            # deterministic seq: replay order within the batch is
            # irrelevant (distinct ids, one synthetic 'updated' each), it
            # just satisfies the feed's ordering contract
            batch = ready.select(
                "resource_type",
                F.lit(UPDATED).alias("resource_change"),
                "resource_id",
                F.row_number().over(
                    Window.orderBy("resource_type", "resource_id"))
                .cast("long").alias("seq"))
            self.apply_changes(batch)
            remaining = dl.join(
                ready.select("resource_type", "resource_id"),
                ["resource_type", "resource_id"], "left_anti")
            # same transaction as the replayed batch: a crash cannot
            # apply the entries without dequeuing them, or the reverse
            self.store.overwrite(table, remaining)
        return n

    # -- convenience ----------------------------------------------------------

    def read(self, target: str, keys=None) -> DataFrame:
        """Read a maintained view's current snapshot; ``keys`` (bounded)
        lets key-pruning stores skip whole bucket directories — the
        serving path for probes that know their routes up front (see
        ``similarity.probe_ivf_store``)."""
        return self.store.read(target, keys=keys)

    def snapshot(self) -> "EngineSnapshot":
        """A CONSISTENT multi-table reader (r13, VERDICT r12 #8): pins
        every maintained view at its committed version, so map/reduce/view
        joins across tables can never observe a half-applied
        ``apply_changes``. Every batch and rebuild publishes all its
        targets with one store transaction, so ``snapshot()`` taken
        mid-batch resolves to the previous batch (none of the in-flight
        one) and taken after resolves to all of it — pytest-pinned in
        tests/test_incremental.py. Direct ``read`` calls return the
        writer's view instead, in-flight commits included.

        Pinned versions stay readable for ``store.retain`` later
        published versions per table (the bucketed store's
        manifest-closure GC protects every retained manifest's chain);
        long-lived snapshots across many batches need a raised
        ``retain``, same contract as any pinned reader."""
        tables = self.store.committed()["tables"]
        return EngineSnapshot(store=self.store, versions={
            t: tables[t] for t in self.engine.config if t in tables})


@dataclass
class EngineSnapshot:
    """A pinned, cross-table-consistent view of an engine's maintained
    tables — every ``read`` resolves to the version set one store
    transaction published, regardless of what later batches do. Lazy
    frames: the pin is the version number; the parquet files stay on disk
    for ``store.retain`` commits (see :meth:`IncrementalEngine.snapshot`)."""

    store: ParquetStateStore
    versions: dict

    def read(self, target: str, keys=None) -> DataFrame:
        v = self.versions.get(target)
        if v is None:
            raise KeyError(
                f"table {target!r} not covered by this snapshot "
                f"(not yet committed when the snapshot was taken)")
        return self.store.read(target, keys=keys, version=v)


def notifications(spark: SparkSession, rows: list[tuple[str, str, str]]) -> DataFrame:
    """Build a CDC batch DataFrame from (resource_type, change, resource_id)
    tuples, with a ``seq`` column preserving list order (the reference feed's
    ``last_modified`` ordering)."""
    return spark.createDataFrame(
        [(t, c, str(i), s) for s, (t, c, i) in enumerate(rows)],
        "resource_type string, resource_change string, resource_id string, seq long",
    )

"""Mutable resource collections with CRUD + change-notification emission.

This is the Spark-side stand-in for the Qvarn store the reference writes
through (SURVEY §2.1 S2/S6/S7/S8 and the listener notification machinery):

- **create** assigns server-side ``id`` and ``revision`` and emits a
  ``created`` notification (``[qvarn] list_resource.py:263-292``,
  notification creation ``[qvarn] listener_resource.py:319-399``);
- **update** is a put-by-id with an optimistic ``revision`` check — mismatch
  raises :class:`RevisionConflict`, the reference's 409
  (``clients/qvarn.py:157-168``, conflict ``clients/qvarn.py:31,94-95``);
  the revision is regenerated on every update;
- **delete** emits ``deleted`` (``clients/qvarn.py:202-209``).

Storage is the versioned :class:`ParquetStateStore`. Creates, updates
and deletes are delta commits (:meth:`ParquetStateStore.commit_delta`):
the new rows go to one parquet file written in this process by pyarrow,
with no Spark job, and the version's record adds the deleted ids and the
replaced ``(id, revision)`` pairs to the table's delete sets, so a write
costs O(rows written) whatever the table's size. A deleted key never
comes back: ``create`` draws fresh ids, an update's row gets a fresh
revision, and a ``backfill`` that reuses a deleted id rewrites the
table, as ``migrate`` does, which clears the delete sets. The store also
folds a table into one snapshot once it holds more than
``COMPACT_AFTER`` delta files or ``MAX_LITERALS`` delete values.
Notifications append to a JSON-lines feed directory that
:func:`qvarn_mr_spark.streaming.read_change_feed` consumes — together
they close the reference's full loop: write → notification → incremental
view maintenance. Each write reserves its feed ``seq`` range in the
state file, in the transaction that publishes it, so ``seq`` keeps
rising across store instances on one root.

Scale note: single-document CRUD is a small-data control path (the
reference processes one REST call at a time), and one instance serializes
its writes under a lock; the bulk path at 100 TB is ``backfill``, which
writes one DataFrame snapshot. On a real cluster the store becomes a
Delta or Iceberg table (the same deletion records, kept per file) and the
feed becomes the table's Change Data Feed — same interface, zero engine
changes.
"""

from __future__ import annotations

import json
import os
import threading
import time
import uuid
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from qvarn_mr_spark.operators.incremental import ParquetStateStore


class RevisionConflict(Exception):
    """Optimistic-concurrency failure — the reference's HTTP 409."""


@dataclass
class ResourceStore:
    spark: SparkSession
    root: str
    feed_dir: str | None = None
    _store: ParquetStateStore = field(init=False)
    #: held by every write across its revision check, its commit, its
    #: ``seq`` reservation and its emit
    _lock: threading.Lock = field(init=False, default_factory=threading.Lock)

    def __post_init__(self):
        self._store = ParquetStateStore(self.spark, self.root)
        if self.feed_dir:
            os.makedirs(self.feed_dir, exist_ok=True)

    # -- notification feed ---------------------------------------------------

    @contextmanager
    def _write(self, resource_type: str, change: str, ids: list[str]):
        """Run the body's commits under the write lock in one store
        transaction that also reserves ``seq`` numbers for ``ids``, then
        emit ``change`` for them. A body that raises publishes and emits
        nothing."""
        with self._lock:
            with self._store.transaction():
                yield
                first = (self._store.reserve("seq", len(ids))
                         if self.feed_dir and ids else 0)
            self._emit(resource_type, change, ids, first)

    def _emit(self, resource_type: str, change: str, ids: list[str],
              first: int) -> None:
        """One JSON-lines file per CRUD call, numbered from ``first`` — the
        feed's ``seq`` preserves emission order (the reference's
        ``last_modified`` ordering)."""
        if not self.feed_dir or not ids:
            return
        lines = [json.dumps({
            "resource_type": resource_type, "resource_change": change,
            "resource_id": rid, "seq": seq})
            for seq, rid in enumerate(ids, first)]
        name = f"{time.time_ns()}-{uuid.uuid4().hex[:8]}.json"
        tmp = os.path.join(self.feed_dir, "." + name)
        with open(tmp, "w") as f:
            f.write("\n".join(lines) + "\n")
        os.replace(tmp, os.path.join(self.feed_dir, name))

    # -- reads ---------------------------------------------------------------

    def table(self, resource_type: str) -> DataFrame:
        return self._store.read(resource_type)

    def get(self, resource_type: str, rid: str) -> dict | None:
        """S2 point lookup."""
        rows = self.table(resource_type).filter(F.col("id") == rid).collect()
        return rows[0].asDict() if rows else None

    # -- writes --------------------------------------------------------------

    def create_many(self, resource_type: str, docs: list[dict]) -> list[str]:
        """S6 insert: assign id + revision, append, emit ``created``."""
        docs = [{**d, "type": resource_type, "id": uuid.uuid4().hex,
                 "revision": uuid.uuid4().hex} for d in docs]
        ids = [d["id"] for d in docs]
        with self._write(resource_type, "created", ids):
            self._store.commit_delta(resource_type, docs)
        return ids

    def create(self, resource_type: str, doc: dict) -> str:
        return self.create_many(resource_type, [doc])[0]

    def backfill(self, resource_type: str, df: DataFrame,
                 id_col: str = "id", check_ids: bool = True) -> None:
        """The BULK ingest path (module docstring: "the bulk path at
        100 TB is ``backfill``, which writes one DataFrame snapshot"):
        append a whole DataFrame as resources in ONE
        distributed write — no driver-side dict list, no per-row ids.
        ``id_col`` supplies the resource ids (cast to string);
        ``type``/``revision`` are stamped as columns. Emits NO
        notifications (a backfill's ids are corpus-sized — the feed is
        for trickle CRUD); drive dependent views with
        ``IncrementalEngine.resync*`` afterwards, exactly the
        reference's bootstrap flow. The rewrite folds the table's delta
        files and clears its delete sets.

        Unlike ``create_many`` (fresh uuid4 ids, collision-free by
        construction), the ids here are CALLER-supplied — a colliding
        backfill would silently produce duplicate ``id`` rows, making
        ``get()`` arbitrary and corrupting update/delete revision
        semantics. ``check_ids`` (default on) therefore rejects the
        commit when ``df`` repeats an id or collides with the existing
        table — two short-circuiting ``limit(1)`` probes, each one scan
        of the incoming frame (id-column only, pruned at the parquet
        scan); pass ``check_ids=False`` for re-ingest flows that have
        already proven uniqueness upstream."""
        with self._lock:
            if check_ids:
                ids = df.select(F.col(id_col).cast("string").alias("id"))
                dup = (ids.groupBy("id").count()
                       .filter(F.col("count") > 1).limit(1).collect())
                if dup:
                    raise ValueError(
                        f"backfill({resource_type!r}): duplicate id "
                        f"{dup[0]['id']!r} within the incoming frame")
                if self._store.exists(resource_type):
                    clash = (ids.join(self.table(resource_type)
                                      .select("id"), "id", "left_semi")
                             .limit(1).collect())
                    if clash:
                        raise ValueError(
                            f"backfill({resource_type!r}): id "
                            f"{clash[0]['id']!r} already exists in the "
                            f"table")
            new = df.select(
                F.col(id_col).cast("string").alias("id"),
                F.lit(resource_type).alias("type"),
                F.lit(uuid.uuid4().hex).alias("revision"),
                *[c for c in df.columns if c != id_col])
            if self._store.exists(resource_type):
                new = self.table(resource_type).unionByName(
                    new, allowMissingColumns=True)
            self._store.overwrite(resource_type, new)

    def update(self, resource_type: str, rid: str, doc: dict,
               revision: str | None = None) -> str:
        """S7 put-by-id with optimistic revision check (409 on mismatch).

        Like the reference client, a caller that omits ``revision`` gets
        last-writer-wins (auto-fetch, ``clients/qvarn.py:157-168``)."""
        with self._write(resource_type, "updated", [rid]):
            current = self._checked(resource_type, rid, revision)
            return self._replace(resource_type, rid, current["revision"],
                                 doc)

    def _checked(self, resource_type: str, rid: str,
                 revision: str | None) -> dict:
        """The current row of ``rid``: ``KeyError`` when it is missing,
        :class:`RevisionConflict` when a given ``revision`` is stale."""
        current = self.get(resource_type, rid)
        if current is None:
            raise KeyError(f"{resource_type}/{rid} not found")
        if revision is not None and revision != current["revision"]:
            raise RevisionConflict(
                f"{resource_type}/{rid}: revision {revision!r} is stale")
        return current

    def _replace(self, resource_type: str, rid: str, revision: str,
                 doc: dict) -> str:
        """Commit ``doc`` as ``rid``'s row under a fresh revision in place
        of its row at ``revision``, and return the new revision; the
        caller has already checked the row and emits ``updated`` once the
        commit is published."""
        new_rev = uuid.uuid4().hex
        doc = {**doc, "type": resource_type, "id": rid, "revision": new_rev}
        self._store.commit_delta(resource_type, [doc],
                                 deletes={"id,revision": [[rid, revision]]})
        return new_rev

    def _put_side(self, resource_type: str, rid: str, revision: str | None,
                  table: str, row: DataFrame) -> str:
        """Check the parent's revision, then commit ``row`` as ``rid``'s
        row of side table ``table`` together with the parent revision bump
        in ONE store transaction, then emit ``updated`` for the parent: a
        rejected or failed put leaves both tables and the feed as they
        were. A side row is replaced by id, which its successor reuses, so
        the side table is rewritten whole."""
        with self._write(resource_type, "updated", [rid]):
            parent = self._checked(resource_type, rid, revision)
            if self._store.exists(table):
                row = self._store.read(table).filter(F.col("id") != rid) \
                    .unionByName(row, allowMissingColumns=True)
            self._store.overwrite(table, row)
            # parent fields unchanged
            return self._replace(resource_type, rid, parent["revision"],
                                 parent)

    # -- subresources --------------------------------------------------------
    #
    # Reference: a secondary prototype attached to a resource, fetched and
    # updated separately (`/persons/<id>/private` —
    # ``/root/reference/qvarnmr/clients/qvarn.py:111-127``,
    # ``testing/realqvarn.py:39-94``). Updating a subresource regenerates the
    # parent's revision and emits ``updated`` on the parent, which is what
    # drives derived views that consume subresource fields.

    def _sub_table(self, resource_type: str, sub: str) -> str:
        return f"{resource_type}__sub__{sub}"

    def put_subresource(self, resource_type: str, rid: str, sub: str,
                        doc: dict, revision: str | None = None) -> str:
        """Upsert the ``sub`` document of resource ``rid``; bumps the parent
        revision (optimistic check as in :meth:`update`, BEFORE the sub
        write, so a rejected put leaves no trace) in the same store
        transaction as the sub write, and emits ``updated`` for the
        parent. A ``None`` field is left out, so it reads null (its type
        could not be inferred)."""
        row = {k: x for k, x in doc.items() if x is not None}
        return self._put_side(
            resource_type, rid, revision, self._sub_table(resource_type, sub),
            self.spark.createDataFrame([{**row, "id": rid}]))

    def get_subresource(self, resource_type: str, rid: str,
                        sub: str) -> dict | None:
        table = self._sub_table(resource_type, sub)
        if not self._store.exists(table):
            return None
        rows = self._store.read(table).filter(F.col("id") == rid).collect()
        return rows[0].asDict() if rows else None

    def subresource_table(self, resource_type: str, sub: str) -> DataFrame:
        """The whole subresource collection keyed by parent id — join input
        for views that need parent+sub fields."""
        return self._store.read(self._sub_table(resource_type, sub))

    # -- file subresources ---------------------------------------------------
    #
    # Reference: blob + content type attached to a resource
    # (`/persons/<id>/photo`): ``get_file``
    # ``/root/reference/qvarnmr/clients/qvarn.py:120-122``, ``update_file``
    # ``clients/qvarn.py:193-200``. A file PUT carries the parent revision,
    # regenerates it, and notifies ``updated`` on the parent — exactly the
    # dict-subresource contract, with an opaque binary body instead of a
    # prototype document.

    def _file_table(self, resource_type: str, sub: str) -> str:
        return f"{resource_type}__file__{sub}"

    def put_file(self, resource_type: str, rid: str, sub: str, body: bytes,
                 content_type: str, revision: str | None = None) -> str:
        """Upsert the ``sub`` blob of resource ``rid`` (optimistic revision
        check BEFORE the blob write, as the reference's server rejects the
        PUT up front); bumps the parent revision in the same store
        transaction and emits ``updated`` for the parent. Returns the new
        parent revision."""
        return self._put_side(
            resource_type, rid, revision,
            self._file_table(resource_type, sub),
            self.spark.createDataFrame(
                [(rid, content_type, bytearray(body))],
                "id string, content_type string, body binary"))

    def get_file(self, resource_type: str, rid: str,
                 sub: str) -> tuple[bytes, str] | None:
        """→ ``(body, content_type)`` or ``None`` — the reference's
        ``get_file`` round-trip."""
        table = self._file_table(resource_type, sub)
        if not self._store.exists(table):
            return None
        rows = self._store.read(table).filter(F.col("id") == rid).collect()
        if not rows:
            return None
        return bytes(rows[0]["body"]), rows[0]["content_type"]

    def file_table(self, resource_type: str, sub: str) -> DataFrame:
        """The whole blob collection ``(id, content_type, body)`` keyed by
        parent id — the analytics join input: binary columns feed straight
        into :mod:`qvarn_mr_spark.functions.multimodal` (payloads stay on
        executors; nothing collects to the driver)."""
        return self._store.read(self._file_table(resource_type, sub))

    def delete_many(self, resource_type: str, ids: list[str]) -> None:
        """S8 delete, emits ``deleted``."""
        with self._write(resource_type, "deleted", ids):
            self._store.commit_delta(resource_type, [],
                                     deletes={"id": list(ids)})

    def delete(self, resource_type: str, rid: str) -> None:
        self.delete_many(resource_type, [rid])

    # -- schema versioning / migration (SURVEY §1.2, VERDICT r10 #3) ---------
    #
    # Reference: prototypes are versioned v0…vN with automatic storage
    # migration (vendored ``[qvarn] versioned_storage.py``). Spark form in
    # :mod:`qvarn_mr_spark.sources.migration`: one transactional snapshot
    # rewrite per version step + durable version metadata; dependent views
    # cascade through the existing T7/T8 machinery (bump the view handler
    # version to one reading the new schema, then
    # ``IncrementalEngine.resync_changed()``).

    def schema_version(self, resource_type: str) -> int:
        """Current schema version of a type — or of one of its side
        collections via the path form (``"person/private"``). It is
        recorded in the store's state file, in the transaction that
        publishes the migrated table."""
        return self._store.get_schema_versions().get(resource_type, 0)

    def _migration_table(self, resource_type: str) -> str:
        """Resolve a migration target to its physical store table.

        The reference's versioned storage migrates EVERY prototype
        table — list/side tables included (``[qvarn]
        versioned_storage.py``); here the path form
        ``"person/private"`` addresses the subresource table of
        ``person``'s ``private`` prototype (falling back to the file
        table for blob subresources). The plain form is the main
        table. Each (type, sub) carries its OWN schema version —
        sub prototypes version independently of the parent, exactly as
        separate YAML prototypes do."""
        from qvarn_mr_spark.sources.migration import MigrationError
        if "/" not in resource_type:
            return resource_type
        parent, sub = resource_type.split("/", 1)
        for table in (self._sub_table(parent, sub),
                      self._file_table(parent, sub)):
            if self._store.exists(table):
                return table
        raise MigrationError(
            f"{resource_type}: no subresource or file table exists "
            f"for parent {parent!r}, sub {sub!r}")

    def migrate(self, resource_type: str, to_version: int,
                transforms) -> bool:
        """Migrate ``resource_type`` to schema ``to_version`` by applying
        the declarative ``transforms`` (see ``migration.VERBS``) as ONE
        snapshot rewrite, published together with the new schema version
        in one store transaction.

        Returns False (no-op) when the type is already AT or PAST
        ``to_version``. A crashed migration publishes neither the
        rewrite nor the version, so calling migrate again with the same
        arguments replays it from the old snapshot. Skipping versions
        raises: migrations form a chain (v0→v1→…), the reference's
        contract.

        Emits NO per-row notifications — a schema migration is not a data
        change per id (and at 100 TB a per-id feed replay would be a full
        rescan through the slow path); dependent views that read migrated
        fields rebuild via ``resync_changed`` (one batch pipeline), the
        same one-shot path a handler upgrade takes.

        Side collections migrate through the SAME verb, addressed by
        the path form: ``migrate("person/private", 1, …)`` rewrites the
        ``private`` subresource table (or the blob/file table for file
        subresources) under its own version chain — the reference's
        versioned storage migrates every prototype table, list/side
        tables included (``[qvarn] versioned_storage.py``). ``id`` (the
        parent key every side table is keyed by) cannot be renamed,
        retyped, or dropped there — it is the join spine dependent
        views and ``get_subresource`` stand on."""
        from qvarn_mr_spark.sources.migration import (
            MigrationError,
            apply_transforms,
        )
        table = self._migration_table(resource_type)
        # the columns the accessor contract stands on are immutable:
        # every table joins/matches on `id`; a MAIN table's CRUD verbs
        # additionally read the stamped `type`/`revision` system
        # columns; a FILE table's get_file reads (body, content_type) —
        # its prototype is fixed by the reference's file-subresource
        # API, only metadata columns around it may evolve. File-ness is
        # decided by EXACT table-name comparison, never by parsing (a
        # parent type containing '__' would fool a substring check).
        if "/" in resource_type:
            parent, sub = resource_type.split("/", 1)
            protected = {"id"}
            if table == self._file_table(parent, sub):
                protected |= {"body", "content_type"}
        else:
            protected = {"id", "type", "revision"}
        for t in transforms:
            if t[0] in ("rename", "retype", "drop") \
                    and t[1] in protected:
                raise MigrationError(
                    f"{resource_type}: cannot {t[0]} protected "
                    f"column {t[1]!r} (the accessor contract reads "
                    f"it)")
        with self._lock:
            cur = self.schema_version(resource_type)
            if to_version <= cur:
                return False
            if to_version != cur + 1:
                raise MigrationError(
                    f"{resource_type}: cannot migrate v{cur}→v{to_version}; "
                    f"versions step by 1 (apply v{cur + 1} first)")
            migrated = apply_transforms(self._store.read(table), transforms)
            with self._store.transaction():
                self._store.overwrite(table, migrated)
                self._store.set_schema_version(resource_type, to_version)
        return True

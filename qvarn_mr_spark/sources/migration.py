"""Resource-type schema versioning + migration (SURVEY §1.2).

The reference declares resource prototypes as YAML versioned ``v0…vN``
with automatic storage migration (vendored ``[qvarn]
versioned_storage.py``: each prototype version carries the ALTERs that
take the previous version's tables to it; on startup the storage walks
the version chain and applies the missing steps). This module is the
Spark-native re-expression (VERDICT r10 item 3 — the last reference
behavior with no engine story):

- a resource type's **schema version** is durable metadata in the
  state store's ``_STATE.json``, next to the table versions;
- a **migration step** is a declarative transform list applied as ONE
  snapshot rewrite, published together with the new schema version in
  one store transaction (one rename of the state file). A crashed
  migration publishes neither, so the previous snapshot and version stay
  live and re-running the migration replays it from them — there is no
  partially-migrated state to repair;
- transforms skip work already done (add skips an existing column,
  rename skips a gone source column), but replay safety rests on the
  transaction, not on them: renaming ``name`` and then adding a new
  ``name`` raises when applied to its own output;
- **dependent views** cascade through the machinery that already
  exists: bump the view fragment's handler ``version`` to one that
  reads the new schema and ``IncrementalEngine.resync_changed()`` (T8)
  rebuilds exactly the affected views under the version barrier (T7).
  Purely ADDITIVE migrations need no handler change at all — Spark's
  ``unionByName(allowMissingColumns=True)`` ingest absorbs new nullable
  columns, and each snapshot version reads with the schema recorded at
  its commit (the state store's per-version ``_MANIFEST.json``), so the
  migrated version reads the new columns and older versions their own.

Scale shape: one migration = one full-table rewrite (unavoidable for
rename/retype — the reference's ALTER TABLE does the same work), a
narrow per-row projection with no shuffle; additive-with-default cases
that want to avoid the rewrite can stay virtual by migrating to a view
(``add`` with ``virtual=True`` is deliberately NOT offered here — a
versioned store should not fork physical and logical schemas).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


class MigrationError(ValueError):
    pass


#: transform forms, Qvarn-ALTER-shaped:
#:   ("add",    field, sql_type[, default])   — nullable unless default
#:   ("rename", old, new)
#:   ("retype", field, sql_type)              — cast
#:   ("drop",   field)
VERBS = ("add", "rename", "retype", "drop")


def apply_transforms(df: DataFrame, transforms) -> DataFrame:
    """Apply a migration step's transforms to one DataFrame — a pure
    narrow projection (no shuffle, no Python). Each transform skips
    work already done:

    - ``add`` of an existing column leaves it untouched;
    - ``rename`` whose source column is gone (already renamed) is
      skipped — unless the TARGET is also missing, which is a real
      contract violation and raises;
    - ``retype`` casts (casting an already-cast column is identity);
    - ``drop`` of a missing column is a no-op.
    """
    for t in transforms:
        verb = t[0]
        if verb == "add":
            _, fieldname, sql_type, *rest = t
            if fieldname in df.columns:
                continue
            default = rest[0] if rest else None
            df = df.withColumn(
                fieldname, F.lit(default).cast(sql_type))
        elif verb == "rename":
            _, old, new = t
            if old not in df.columns:
                if new not in df.columns:
                    raise MigrationError(
                        f"rename {old!r}->{new!r}: neither column exists")
                continue
            if new in df.columns:
                raise MigrationError(
                    f"rename {old!r}->{new!r}: target already exists")
            df = df.withColumnRenamed(old, new)
        elif verb == "retype":
            _, fieldname, sql_type = t
            if fieldname not in df.columns:
                raise MigrationError(f"retype: no column {fieldname!r}")
            df = df.withColumn(fieldname, F.col(fieldname).cast(sql_type))
        elif verb == "drop":
            _, fieldname = t
            if fieldname in df.columns:
                df = df.drop(fieldname)
        else:
            raise MigrationError(
                f"unknown transform verb {verb!r} (one of {VERBS})")
    return df

"""The map/reduce view engine — batch full recompute.

Reference semantics (/root/reference/qvarnmr):

- A *map handler* turns one source row into zero or more ``(key, value)``
  pairs stored in a derived map table with bookkeeping columns
  ``(_mr_key, _mr_value | inlined fields, _mr_source_id, _mr_source_type,
  _mr_version)`` (``processor.py:52-71``, ``README.rst:437-474``). The
  reference also stores a tombstone flag, purged after the reduce
  commits (``processor.py:133-148``); here a batch's map and reduce
  publish in one store transaction, so deleted rows are simply dropped.
- A *reduce handler* turns the group of mapped rows for one key into one
  output row ``(_mr_key, _mr_value | inlined fields)``
  (``processor.py:74-96,192-227``).
- Handler config shape: ``{target: {source: {type, version, handler}}}``
  (``handlers.py:11-24``); validation rules in ``validation.py:6-94``:
  a target is single-typed (all map or all reduce), a reduce target has
  exactly one source, and that source must itself be a map target.

Spark-first re-expression: handlers are *declarative specs* (Column
expressions / renames), NOT opaque Python callbacks. The reference lets a
handler issue arbitrary store queries mid-flight (``func.py:5-31`` Context);
that is an anti-pattern on a cluster — all side inputs must be declared, so
they become join inputs the optimizer can see (SURVEY.md §2.8 U3). A pandas
escape hatch (`reduce_pandas`) exists for genuinely imperative reductions.

Scale notes: the map stage is a narrow select/explode (no shuffle); the union
of multiple sources into one map target is a zero-shuffle ``unionByName``;
the reduce stage is one hash aggregate (partial+final, map-side combine free
from Catalyst). The N-way entity join aggregates each side to one row per key
*before* joining, so the join inputs are pre-deduplicated and the smallest
sides broadcast automatically under AQE.
"""

from __future__ import annotations

from dataclasses import dataclass, field as dc_field
from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from qvarn_mr_spark.catalog import Catalog

# ---------------------------------------------------------------------------
# Handler specs
# ---------------------------------------------------------------------------

@dataclass(frozen=True)
class MapSpec:
    """Map handler: source row → (key, value) pair(s).

    ``key``/``value`` are column names or Column expressions. ``value=None``
    stores NULL (the reference's scalar-less ``item(key)`` — ``func.py:50-55``).
    ``explode_key`` treats the key expression as an array → one output pair
    per element (the generator/flatMap form, ``func.py:40-43``).
    ``where`` pre-filters source rows (a handler returning nothing for a row).
    """

    version: int
    key: str | Column
    value: str | Column | None = None
    fields: dict[str, str | Column] | None = None  # dict-valued map output
    where: str | Column | None = None
    explode_key: bool = False


def map_item(key, value=None, version: int = 1, where=None) -> MapSpec:
    """The reference's ``item(key, value)`` helper (``func.py:50-55``)."""
    return MapSpec(version=version, key=key, value=value, where=where)


def map_expr(key, value=None, fields=None, version: int = 1, where=None,
             explode_key: bool = False) -> MapSpec:
    """Generic declarative map: arbitrary Column expressions for key/value,
    or ``fields={out: expr}`` for dict-valued map output
    (``processor.py:56-60``, exercised in ``tests/test_mapreduce.py:541-575``)."""
    return MapSpec(version=version, key=key, value=value, fields=fields,
                   where=where, explode_key=explode_key)


@dataclass(frozen=True)
class AggReduceSpec:
    """Reduce = a (list of) aggregate expression(s) over the key group.

    ``aggs`` maps output column name → a Callable taking the *projected value
    column* and returning an aggregate Column (e.g. ``F.sum``), or a ready
    Column. ``input`` is the reduce-side pre-projection — the reference's
    ``'map'`` option (``processor.py:161-165,211-212``, ``README.rst:398-414``);
    default is the mapped ``_mr_value``.
    """

    version: int
    aggs: dict[str, Callable[[Column], Column] | Column]
    input: str | Column = "_mr_value"
    #: Optional algebraic merge functions ``{alias: (old, delta) -> merged}``.
    #: When every output alias has one, the incremental engine maintains
    #: INSERT-ONLY dirty keys as ``merge(old_value, reduce(delta_rows))``
    #: instead of re-aggregating the whole key group — O(delta) work even
    #: when a hot key's group holds millions of rows. Keys that lost rows
    #: (update/delete) always fall back to full-group recompute, which keeps
    #: non-invertible merges (min/max/…) sound: a merge is only ever asked
    #: to COMBINE two partial aggregates, never to retract one.
    merge: dict[str, Callable[[Column, Column], Column]] | None = None


def MERGE_ADD(old: Column, delta: Column) -> Column:
    """Merge for sums/counts: partial aggregates combine by addition."""
    return old + delta


def MERGE_MIN(old: Column, delta: Column) -> Column:
    return F.least(old, delta)


def MERGE_MAX(old: Column, delta: Column) -> Column:
    return F.greatest(old, delta)


def reduce_count(version: int = 1, alias: str = "_mr_value") -> AggReduceSpec:
    """``count`` reduce helper (``func.py:46-47``). Counts combine by
    addition, so the algebraic insert-only merge path is always on."""
    return AggReduceSpec(version=version,
                         aggs={alias: lambda c: F.count(F.lit(1))},
                         merge={alias: lambda old, delta: old + delta})


def reduce_agg(aggs, input: str | Column = "_mr_value", version: int = 1,
               merge=None) -> AggReduceSpec:
    """Aggregate reduce. Pass ``merge={alias: fn}`` (``MERGE_ADD`` /
    ``MERGE_MIN`` / ``MERGE_MAX`` or any ``(old, delta) -> Column``) to let
    the incremental engine combine old values with insert-only deltas
    instead of rescanning whole key groups; every alias must have a merge
    for the algebraic path to engage."""
    if not isinstance(aggs, dict):
        aggs = {"_mr_value": aggs}
    if merge is not None and not isinstance(merge, dict):
        merge = {alias: merge for alias in aggs}
    return AggReduceSpec(version=version, aggs=aggs, input=input, merge=merge)


@dataclass(frozen=True)
class JoinReduceSpec:
    """The flagship N-way entity join (``func.py:63-71``,
    ``README.rst:561-661``).

    ``mapping`` = ``{source_type: {out_field: src_field | True}}``; ``True``
    keeps the source field name. For each key group, each source type
    contributes its **last-written** row's fields (dict-update ⇒ last-writer
    wins, observable in ``tests/test_mapreduce.py:186-195``); a group exists
    if ≥1 source row exists (outer-join semantics). Ordering is explicit:
    ``order_by`` names the column of the *origin* source row that defines
    "last" (Spark has no implicit row order; the reference's insertion order
    maps to a monotonic id column).
    """

    version: int
    mapping: dict[str, dict[str, str | bool]]
    order_by: dict[str, str] | str | None = None


def reduce_join(mapping, order_by=None, version: int = 1) -> JoinReduceSpec:
    return JoinReduceSpec(version=version, mapping=mapping, order_by=order_by)


@dataclass(frozen=True)
class PandasReduceSpec:
    """Escape hatch: arbitrary Python over each key group via
    ``applyInPandas`` (Arrow-batched — the only sane way to run Python
    against a 100 TB shuffle). ``fn(key, pdf) -> pdf`` with ``schema``."""

    version: int
    fn: Callable
    schema: str


def reduce_pandas(fn, schema, version: int = 1) -> PandasReduceSpec:
    return PandasReduceSpec(version=version, fn=fn, schema=schema)


REDUCE_SPECS = (AggReduceSpec, JoinReduceSpec, PandasReduceSpec)


# ---------------------------------------------------------------------------
# Config validation — reference validation.py:6-94 rules
# ---------------------------------------------------------------------------

class ConfigError(ValueError):
    pass


def validate_config(config: dict, strict: bool = True) -> None:
    """Validate a handler config.

    ``strict=True`` (compat mode) enforces the reference's invariants
    (``validation.py:6-94``, tests ``tests/test_validation.py``):

    - every target's handlers are single-typed (all map or all reduce)
    - a reduce target has exactly one source
    - a reduce source must itself be a map target defined in the config
      (⇒ pipeline depth is exactly map→reduce)

    ``strict=False`` (extended mode) keeps single-typedness and the
    one-source-per-reduce rule but lets ANY handler read a derived target —
    map-over-reduce, reduce-of-reduce, arbitrary DAG depth. Spark composes
    DataFrame stages freely; the reference's depth limit exists only
    because its engine routes one notification at a time. Cycles are
    rejected (a view DAG must be a DAG).
    """
    map_targets = set()
    for target, sources in config.items():
        if not sources:
            raise ConfigError(f"{target}: no sources")
        kinds = {("reduce" if isinstance(s, REDUCE_SPECS) else "map")
                 for s in sources.values()}
        if len(kinds) > 1:
            raise ConfigError(f"{target}: mixed map and reduce handlers")
        if kinds == {"map"}:
            map_targets.add(target)
    for target, sources in config.items():
        specs = list(sources.items())
        if isinstance(specs[0][1], REDUCE_SPECS):
            if len(specs) != 1:
                raise ConfigError(f"{target}: reduce target must have exactly one source")
            src = specs[0][0]
            if strict and src not in map_targets:
                raise ConfigError(f"{target}: reduce source {src!r} is not a map target")
            if not strict and src not in config:
                raise ConfigError(f"{target}: reduce source {src!r} is not a config target")
    if not strict:
        _check_acyclic(config)


def _check_acyclic(config: dict) -> None:
    state: dict[str, int] = {}   # 0=visiting, 1=done

    def visit(t: str) -> None:
        if state.get(t) == 1 or t not in config:
            return
        if state.get(t) == 0:
            raise ConfigError(f"cycle through target {t!r}")
        state[t] = 0
        for src in config[t]:
            visit(src)
        state[t] = 1

    for t in config:
        visit(t)


# ---------------------------------------------------------------------------
# Engine
# ---------------------------------------------------------------------------

def _as_col(df: DataFrame, c: str | Column) -> Column:
    return df[c] if isinstance(c, str) else c


def live(df: DataFrame) -> DataFrame:
    """Identity. Map tables store no tombstones, so every row is live;
    kept only for callers that still import it."""
    return df


@dataclass
class ViewEngine:
    """Batch view computation: config → derived map and reduce DataFrames.

    ``config`` = ``{target: {source: spec}}`` mirroring the reference's
    handler config (``README.rst:230-249``). ``id_cols`` names each source's
    primary-key column (the reference hardcodes ``id``; the driver's TPC-H
    tables use ``*_key`` names).
    """

    catalog: Catalog
    config: dict
    id_cols: dict[str, str] = dc_field(default_factory=dict)
    strict: bool = True

    def __post_init__(self):
        validate_config(self.config, strict=self.strict)

    def _id_col(self, source: str) -> str:
        if source in self.config:
            # derived targets key by _mr_key (extended-mode DAG input)
            return self.id_cols.get(source, "_mr_key")
        return self.id_cols.get(source, "id")

    def _resolve(self, source: str) -> DataFrame:
        """A map handler's input: a catalog collection, or (extended mode)
        any derived target computed recursively — the DataFrame DAG simply
        deepens; Catalyst sees one composed plan, so filters/projections
        still push through the whole pipeline."""
        if source in self.config:
            first = next(iter(self.config[source].values()))
            if isinstance(first, REDUCE_SPECS):
                return self.reduce_table(source)
            return self.map_table(source)
        return self.catalog.get(source)

    # -- map stage ----------------------------------------------------------

    def _map_one(self, source: str, spec: MapSpec, src_df: DataFrame | None = None
                 ) -> DataFrame:
        """Apply one map handler to one source collection.

        Narrow (no-shuffle) select; the optional explode is the flatMap /
        generator-handler form (``func.py:40-43``).
        """
        df = src_df if src_df is not None else self._resolve(source)
        if spec.where is not None:
            df = df.filter(spec.where if not isinstance(spec.where, str)
                           else F.expr(spec.where))
        id_col = self._id_col(source)
        if spec.explode_key:
            # generators must be top-level expressions — explode first, then
            # project (the flatMap/generator handler form, func.py:40-43)
            df = df.withColumn("__mr_key_elem", F.explode(_as_col(df, spec.key)))
            key = F.col("__mr_key_elem")
        else:
            key = _as_col(df, spec.key)
        cols = [
            key.cast("string").alias("_mr_key"),
            (F.lit(None) if spec.value is None else _as_col(df, spec.value))
            .alias("_mr_value"),
            df[id_col].cast("string").alias("_mr_source_id"),
            F.lit(source).alias("_mr_source_type"),
            F.lit(spec.version).alias("_mr_version"),
        ]
        if spec.fields:
            cols += [_as_col(df, expr).alias(out) for out, expr in spec.fields.items()]
        return df.select(*cols)

    def map_table(self, target: str, overrides: dict[str, DataFrame] | None = None
                  ) -> DataFrame:
        """Union of all source map outputs into one derived map table
        (multiple sources feeding one target — ``README.rst:79-106``,
        routing ``handlers.py:11-24``). ``unionByName`` with missing-column
        fill keeps dict-valued outputs from different sources compatible."""
        sources = self.config[target]
        parts = []
        for source, spec in sources.items():
            src_df = (overrides or {}).get(source)
            parts.append(self._map_one(source, spec, src_df))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p, allowMissingColumns=True)
        return out

    # -- reduce stage ---------------------------------------------------------

    def reduce_table(self, target: str, map_df: DataFrame | None = None) -> DataFrame:
        """Aggregate a map table into the reduce (view result) table.

        Every stored map row is live (no tombstones, so the reference's
        ``processor.py:171-172`` filter has nothing to drop); empty groups
        emit no row — the reference's empty-group elimination
        (``processor.py:214-217``) is the natural semantics of
        ``groupBy().agg()``.
        """
        ((source, spec),) = self.config[target].items()
        mdf = map_df if map_df is not None else self._resolve(source)
        if isinstance(spec, AggReduceSpec):
            return self._reduce_agg(mdf, spec)
        if isinstance(spec, JoinReduceSpec):
            return self._reduce_join(mdf, spec)
        if isinstance(spec, PandasReduceSpec):
            return mdf.groupBy("_mr_key").applyInPandas(spec.fn, spec.schema)
        raise ConfigError(f"unknown reduce spec {type(spec)}")

    def _reduce_agg(self, mdf: DataFrame, spec: AggReduceSpec) -> DataFrame:
        val = _as_col(mdf, spec.input)
        aggs = []
        for out, agg in spec.aggs.items():
            col = agg if isinstance(agg, Column) else agg(val)
            aggs.append(col.alias(out))
        # One hash aggregate; Catalyst splits it into partial (map-side
        # combine) + final automatically (SURVEY §2.4 A7).
        return mdf.groupBy("_mr_key").agg(*aggs)

    def _reduce_join(self, mdf: DataFrame, spec: JoinReduceSpec) -> DataFrame:
        """N-way entity join with per-type last-writer-wins (SURVEY §2.3 J1).

        Per source type: backref-join mapped rows to origin resources on
        ``_mr_source_id == id`` (J3), pick the last-written row's fields per
        key via ``max_by(field, order)``, then full-outer join the per-type
        single-row-per-key frames. Aggregating BEFORE the join keeps join
        inputs minimal (one row per key per type) — at 100 TB this is the
        difference between joining deduplicated keys and exploding row
        multiplicities.
        """
        out = None
        for source, fields in spec.mapping.items():
            src = self.catalog.get(source)
            id_col = self._id_col(source)
            ob = None
            if spec.order_by:
                ob = (spec.order_by.get(source) if isinstance(spec.order_by, dict)
                      else spec.order_by)
            renames = {out_f: (out_f if in_f is True else in_f)
                       for out_f, in_f in fields.items()}
            # fresh aliases break attribute lineage with the map table (which
            # may derive from the same source DataFrame — self-join otherwise)
            proj = [F.col(id_col).cast("string").alias("__src_id")]
            proj += [F.col(in_f).alias(f"__v_{out_f}")
                     for out_f, in_f in renames.items()]
            if ob:
                proj.append(F.col(ob).alias("__ord"))
            src_p = src.select(*proj)
            side = mdf.filter(F.col("_mr_source_type") == source).select(
                "_mr_key", "_mr_source_id")
            joined = side.join(
                src_p, side["_mr_source_id"] == src_p["__src_id"], "inner")
            # without order_by the source id stands in for insertion order:
            # Spark has no implicit row order (SURVEY §4 item 4)
            order = F.col("__ord") if ob else F.col("_mr_source_id")
            agg_cols = [F.max_by(F.col(f"__v_{out_f}"), order).alias(out_f)
                        for out_f in renames]
            per_type = joined.groupBy("_mr_key").agg(*agg_cols)
            out = per_type if out is None else out.join(per_type, "_mr_key", "full_outer")
        return out

    # -- whole pipeline -------------------------------------------------------

    def recompute_all(self) -> dict[str, DataFrame]:
        """Full recompute of every target — the degenerate-but-always-correct
        mode (SURVEY §7); the incremental driver reuses these builders on
        dirty subsets."""
        out: dict[str, DataFrame] = {}
        for target, sources in self.config.items():
            first = next(iter(sources.values()))
            if isinstance(first, REDUCE_SPECS):
                out[target] = self.reduce_table(target)
            else:
                out[target] = self.map_table(target)
        return out

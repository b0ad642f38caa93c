"""The benchmark's workloads: seeded, closed-loop, single-client drivers of
the public package API.

A workload is driven as::

    wl = WORKLOADS[name](seed, tracer)
    wl.generate(input_dir)          # seeded inputs, before Spark starts
    wl.bootstrap(spark, root)       # catalog load, backfill, resync_all,
                                    # first drain (timed as set-up)
    wl.step(i) -> Step              # one closed-loop step
    wl.check() -> list[str]         # views vs a batch recompute

Each step makes its changes, refreshes every view, then reads the views,
and the next step starts only after the last read returns.
"""

from __future__ import annotations

import os
import random
import time
from dataclasses import dataclass, field
from urllib.parse import urlparse

from pyspark.sql import functions as F
from pyspark.sql import types as T

from perfbench import datagen
from qvarn_mr_spark import query
from qvarn_mr_spark.catalog import Catalog
from qvarn_mr_spark.functions.dedup import tokens_col
from qvarn_mr_spark.operators import (
    IncrementalEngine,
    ParquetStateStore,
    ViewEngine,
    map_expr,
    map_item,
    reduce_agg,
    reduce_count,
    reduce_join,
)
from qvarn_mr_spark.operators.mapreduce import MERGE_ADD, REDUCE_SPECS, live
from qvarn_mr_spark.sources import ResourceStore
from qvarn_mr_spark.streaming import StreamingMaintainer

#: relative tolerance for comparing float sums computed in different orders
REL_TOL = 1e-9


@dataclass
class Step:
    """What one closed-loop step did and how long each part took."""

    writes: list[float] = field(default_factory=list)
    refresh: float = 0.0
    reads: list[float] = field(default_factory=list)
    #: source changes the refresh brought into the views
    changes: int = 0
    #: results that disagreed with the client's own model
    errors: list[str] = field(default_factory=list)

    @property
    def attempted(self) -> int:
        return len(self.writes) + 1 + len(self.reads)


class StoreCatalog(Catalog):
    """A catalog whose ``ResourceStore``-backed types always resolve to the
    store's latest snapshot, so views see every acknowledged write."""

    def __init__(self, spark, rstore: ResourceStore, stored: tuple[str, ...],
                 tables: dict | None = None):
        super().__init__(spark, dict(tables or {}))
        self.rstore = rstore
        self.stored = stored

    def get(self, name: str):
        if name in self.stored:
            return self.rstore.table(name)
        return super().get(name)


def sum_count(value_alias: str):
    """Algebraic ``{value_alias: sum, n: count}`` reduce."""
    return reduce_agg({value_alias: lambda c: F.sum(c),
                       "n": lambda c: F.count(F.lit(1))},
                      merge={value_alias: MERGE_ADD, "n": MERGE_ADD})


class Workload:
    """Shared bootstrap, read and check plumbing."""

    name = ""
    #: Spark parallelism: ``local[cores]`` with as many shuffle partitions
    cores = 4
    #: the span name of the engine call that refreshes the views
    refresh_span = ""
    #: tables backed by the ResourceStore (backfilled at bootstrap) and
    #: the input column that becomes each one's resource id
    stored: tuple[str, ...] = ()
    backfill_ids: dict[str, str] = {}
    #: primary-key column of each static catalog table
    id_cols: dict[str, str] = {}

    def __init__(self, seed: int, tracer):
        self.seed = seed
        self.tracer = tracer
        self.paths: dict[str, str] = {}

    # -- inputs -------------------------------------------------------------

    def generate(self, input_dir: str) -> None:
        self.paths = datagen.write_tables(input_dir, self.tables())

    def tables(self) -> dict:
        raise NotImplementedError

    def config(self) -> dict:
        raise NotImplementedError

    def source_rows(self) -> int:
        raise NotImplementedError

    # -- set-up -------------------------------------------------------------

    def bootstrap(self, spark, root: str) -> None:
        """Catalog load, source backfill, ``resync_all``, first drain."""
        self.spark = spark
        self.root = root
        self.rs = ResourceStore(spark, f"{root}/sources",
                                feed_dir=f"{root}/feed")
        with self.tracer.span("catalog.load"):
            raw = {name: spark.read.parquet(path)
                   for name, path in self.paths.items()}
            self.catalog = StoreCatalog(
                spark, self.rs, self.stored,
                {n: df for n, df in raw.items() if n not in self.stored})
        for name in self.stored:
            self.rs.backfill(name, raw[name], id_col=self.backfill_ids[name])
        self.store = ParquetStateStore(spark, f"{root}/state")
        self.inc = IncrementalEngine(self.view_engine(), self.store)
        self.inc.resync_all()
        self.sm = StreamingMaintainer(self.inc, f"{root}/feed",
                                      f"{root}/checkpoint")
        self.sm.run_available()

    def view_engine(self) -> ViewEngine:
        return ViewEngine(self.catalog, self.config(), id_cols=self.id_cols)

    # -- steps --------------------------------------------------------------

    def step(self, i: int) -> Step:
        raise NotImplementedError

    def write(self, step: Step, fn, *args, **kwargs):
        """Make one ``ResourceStore`` call; append its wall time to the
        step."""
        t = time.perf_counter()
        out = fn(*args, **kwargs)
        step.writes.append(time.perf_counter() - t)
        return out

    def read(self, step: Step, target: str, **search):
        """One ``query.search`` over a view, including the collect."""
        with self.tracer.span("query.read"):
            t = time.perf_counter()
            with self.tracer.span("query.search_plan"):
                df = query.search(self.inc.read(target), **search)
            with self.tracer.span("query.search_exec"):
                rows = df.collect()
            step.reads.append(time.perf_counter() - t)
        return rows

    # -- measurement helpers ------------------------------------------------

    def source_bytes(self) -> int:
        """Bytes of live source data: the files of every catalog table's
        current snapshot."""
        return sum(os.path.getsize(urlparse(uri).path)
                   for name in self.paths
                   for uri in self.catalog.get(name).inputFiles())

    def state_bytes(self) -> int:
        state = f"{self.root}/state"
        return sum(os.path.getsize(os.path.join(d, f))
                   for d, _, fs in os.walk(state) for f in fs)

    # -- correctness --------------------------------------------------------

    def check(self) -> list[str]:
        """Compare every derived view with a ``ViewEngine`` batch
        recompute over the final catalog. Returns one line per view that
        differs; ``check_s`` keeps the seconds spent per view."""
        engine = self.view_engine()
        expected = engine.recompute_all()
        bad = []
        self.check_s = {}
        for target in engine.config:
            t = time.perf_counter()
            bad += self._check_view(engine, expected, target)
            self.check_s[target] = time.perf_counter() - t
        return bad

    def _check_view(self, engine, expected, target) -> list[str]:
        got = self.inc.read(target)
        if not isinstance(next(iter(engine.config[target].values())),
                          REDUCE_SPECS):
            got = live(got)
        # a one-pass fingerprint clears almost every view; only a
        # differing one pays for the grouped, tolerance-aware diff
        if _fingerprint(expected[target]) == _fingerprint(got):
            return []
        n = _mismatches(expected[target], got)
        return [f"{target}: {n} differing row groups"] if n else []


def _compared_columns(df) -> list[str]:
    # tombstone flags are bookkeeping, and all-NULL (void) columns such as
    # a value-less map's _mr_value carry nothing to compare
    return [c for c in df.columns if c != "_mr_deleted"
            and not isinstance(df.schema[c].dataType, T.NullType)]


def _fingerprint(df) -> tuple:
    """Order-independent multiset fingerprint: row count plus the sum of
    a 31-bit row hash (the sum cannot overflow a long below 2^32 rows).
    Floats are rounded to 6 significant digits first, so sums added up in
    another order still agree; a float that lands on a rounding boundary
    only sends the view to the exact diff."""
    def canon(c):
        if isinstance(df.schema[c].dataType, (T.DoubleType, T.FloatType)):
            x = F.col(c)
            scale = F.pow(F.lit(10.0), F.lit(5) - F.floor(
                F.log10(F.abs(x) + F.lit(1e-300))))
            return F.round(x * scale)
        return F.col(c)
    h = F.xxhash64(*[canon(c) for c in sorted(_compared_columns(df))])
    row = df.agg(F.count(F.lit(1)),
                 F.sum(F.pmod(h, F.lit(2 ** 31)))).first()
    return tuple(row)


def _mismatches(expected, got) -> int:
    """Rows of ``expected`` and ``got`` that disagree, as a multiset.

    Rows are grouped on their non-float columns; float columns are summed
    per group and compared with a relative tolerance, so sums accumulated
    in a different order (incremental merges) still match."""
    cols = _compared_columns(expected)
    floats = [c for c in cols
              if isinstance(expected.schema[c].dataType,
                            (T.DoubleType, T.FloatType))]
    keys = [c for c in cols if c not in floats]

    def canon(df, side):
        df = df.select(*[F.col(c).cast(expected.schema[c].dataType)
                         .alias(c) for c in cols])
        return df.groupBy(*keys).agg(
            F.count(F.lit(1)).alias(f"{side}__n"),
            *[F.sum(c).alias(f"{side}__{c}") for c in floats])

    e, g = canon(expected, "e"), canon(got, "g")
    cond = None
    for k in keys:
        c = e[k].eqNullSafe(g[k])
        cond = c if cond is None else cond & c
    j = e.join(g, cond, "full_outer")
    bad = F.col("e__n").isNull() | F.col("g__n").isNull() \
        | (F.col("e__n") != F.col("g__n"))
    for c in floats:
        ev, gv = F.col(f"e__{c}"), F.col(f"g__{c}")
        bad = bad | ~ev.eqNullSafe(gv) & (
            ev.isNull() | gv.isNull()
            | (F.abs(ev - gv) > F.lit(REL_TOL)
               * F.greatest(F.lit(1.0), F.abs(ev))))
    return j.filter(bad).count()


def _close(a: float, b: float) -> bool:
    return abs(a - b) <= REL_TOL * max(1.0, abs(a))


# ---------------------------------------------------------------------------
# cdc_trickle
# ---------------------------------------------------------------------------

class CdcTrickle(Workload):
    """Write-heavy small batches through the full CDC loop at sf0.01.

    Each step makes three ``ResourceStore`` calls (a create of 4 orders,
    one update, a delete of 2 orders), drains the feed with one
    ``run_available`` (three feed files, one micro-batch), then reads the
    per-customer spend view six times and checks each read against the
    client's own model of the data. The seed picks the customers, prices
    and order ids; the counts are fixed, so every step applies the same 7
    changes' worth of work."""

    name = "cdc_trickle"
    # the drain's critical path is one driver thread; two of four cores
    # leave room for the JVM's JIT and GC threads, so tasks straggle less
    # when another tenant takes a core (interleaved runs spread about half
    # as much as with four)
    cores = 2
    refresh_span = "operators.incremental.apply"
    stored = ("orders",)
    backfill_ids = {"orders": "o_orderkey"}
    SF = 0.01
    #: orders created and deleted per step
    CREATES, DELETES = 4, 2

    def tables(self) -> dict:
        orders = datagen.orders(self.seed, self.SF)
        self.n_cust = int(150_000 * self.SF)
        # the client's model: per-order (customer, price) and per-customer
        # [spend, order count]
        self.orders = {str(k): (int(c), float(p)) for k, c, p in zip(
            orders["o_orderkey"].to_pylist(), orders["o_custkey"].to_pylist(),
            orders["o_totalprice"].to_pylist())}
        self.order_ids = sorted(self.orders)
        self.spend: dict[str, list] = {}
        for c, p in self.orders.values():
            acc = self.spend.setdefault(str(c), [0.0, 0])
            acc[0] += p
            acc[1] += 1
        return {"orders": orders}

    def config(self) -> dict:
        # a worker-style view: orders mapped by customer, reduced to an
        # algebraic (merge-maintained) spend and order count per customer
        return {
            "orders_by_customer": {
                "orders": map_item("o_custkey", "o_totalprice")},
            "customer_spend": {"orders_by_customer": sum_count("total")},
        }

    def source_rows(self) -> int:
        return len(self.orders)

    def _model_order(self, rid: str, cust: int | None, price: float = 0.0):
        old = self.orders.pop(rid, None)
        if old is not None:
            acc = self.spend[str(old[0])]
            acc[0] -= old[1]
            acc[1] -= 1
            if acc[1] == 0:
                del self.spend[str(old[0])]
        if cust is not None:
            self.orders[rid] = (cust, price)
            acc = self.spend.setdefault(str(cust), [0.0, 0])
            acc[0] += price
            acc[1] += 1

    def _take_order_id(self, r: random.Random) -> str:
        """Remove and return a random live order id (swap-with-last)."""
        ids = self.order_ids
        i = r.randrange(len(ids))
        ids[i], ids[-1] = ids[-1], ids[i]
        return ids.pop()

    def step(self, i: int) -> Step:
        r = random.Random(f"{self.name}:{self.seed}:{i}")
        st = Step()

        def order_doc():
            return {"o_custkey": r.randint(1, self.n_cust),
                    "o_orderstatus": r.choice(datagen.STATUSES),
                    "o_totalprice": round(r.uniform(850.0, 550_000.0), 2),
                    "o_orderpriority": r.choice(datagen.PRIORITIES)}

        new_docs = [order_doc() for _ in range(self.CREATES)]
        upd_id, upd_doc = self._take_order_id(r), order_doc()
        del_ids = [self._take_order_id(r) for _ in range(self.DELETES)]

        new_ids = self.write(st, self.rs.create_many, "orders", new_docs)
        self.write(st, self.rs.update, "orders", upd_id, upd_doc)
        self.write(st, self.rs.delete_many, "orders", del_ids)
        for rid, doc in zip(new_ids, new_docs):
            self._model_order(rid, doc["o_custkey"], doc["o_totalprice"])
        self._model_order(upd_id, upd_doc["o_custkey"],
                          upd_doc["o_totalprice"])
        for rid in del_ids:
            self._model_order(rid, None)
        self.order_ids += [upd_id, *new_ids]
        st.changes = len(new_ids) + 1 + len(del_ids)

        t = time.perf_counter()
        self.sm.run_available()
        st.refresh = time.perf_counter() - t

        # read back every customer whose spend this step raised
        for c in [str(d["o_custkey"]) for d in (*new_docs, upd_doc)]:
            rows = self.read(st, "customer_spend", _mr_key=c,
                             show=("total", "n"), id_col="_mr_key")
            want = self.spend.get(c)
            got = (rows[0]["total"], rows[0]["n"]) if rows else None
            if (want is None) != (got is None) or want is not None and (
                    got[1] != want[1] or not _close(want[0], got[0])):
                st.errors.append(f"customer_spend[{c}]: {got} != {want}")
        top = self.read(st, "customer_spend", sort=("-total",), limit=10,
                        show=("total",), id_col="_mr_key")
        want_top = sorted(self.spend, key=lambda c: -self.spend[c][0])[:10]
        if [row["_mr_key"] for row in top] != want_top:
            st.errors.append("customer_spend top-10 differs")
        return st


# ---------------------------------------------------------------------------
# bulk_resync
# ---------------------------------------------------------------------------

class BulkResync(Workload):
    """Large batches at sf0.05: every step bumps the version of the
    lineitem map handler and rebuilds with ``resync_changed``.

    So every step times the same rebuild: the 300,000-row lineitem map and
    its sum/count reduce. The orders⋈customer and word count views are
    rebuilt by ``resync_all`` in every bootstrap. Each step also writes
    through the ``ResourceStore``: it adds two documents and deletes one it
    added earlier. After the timed window, a word count handler bump and
    one more ``resync_changed`` take those documents in, so every view is
    current at the check."""

    name = "bulk_resync"
    refresh_span = "operators.incremental.resync_changed"
    stored = ("documents",)
    backfill_ids = {"documents": "doc_id"}
    id_cols = {"lineitem": "l_id", "orders": "o_orderkey",
               "customer": "c_custkey"}
    SF = 0.05
    DOCS = 5000

    def tables(self) -> dict:
        cust = datagen.customers(self.seed, self.SF)
        orders = datagen.orders(self.seed, self.SF)
        items = datagen.lineitems(self.seed, orders["o_orderkey"].to_numpy())
        docs = datagen.documents(self.seed, self.DOCS)
        self.n_lines = items.num_rows
        self.n_other = orders.num_rows + cust.num_rows
        self.n_cust = cust.num_rows
        self.doc_rng = datagen.rng_for(self.seed, "new-documents")
        return {"lineitem": items, "orders": orders, "customer": cust,
                "documents": docs}

    def bootstrap(self, spark, root: str) -> None:
        self.lineitem_version = self.doc_version = 1
        self.n_docs = self.DOCS
        self.added: list[str] = []
        super().bootstrap(spark, root)

    def source_rows(self) -> int:
        return self.n_lines + self.n_other + self.n_docs

    def config(self) -> dict:
        return {
            "lineitem_by_status": {"lineitem": map_expr(
                F.concat_ws("|", F.col("l_returnflag"),
                            F.col("l_linestatus")),
                "l_extendedprice", version=self.lineitem_version)},
            "status_revenue": {"lineitem_by_status": sum_count("revenue")},
            "order_customer_map": {
                "customer": map_item("c_custkey"),
                "orders": map_item("o_custkey")},
            "order_customer": {"order_customer_map": reduce_join({
                "customer": {"c_name": True, "c_mktsegment": True},
                "orders": {"last_order_total": "o_totalprice"}})},
            "doc_words": {"documents": map_expr(
                tokens_col("text"), explode_key=True,
                version=self.doc_version)},
            "word_count": {"doc_words": reduce_count()},
        }

    def step(self, i: int) -> Step:
        r = random.Random(f"{self.name}:{self.seed}:{i}")
        st = Step()
        texts = datagen.doc_texts(self.doc_rng, 2)
        ids = self.write(st, self.rs.create_many, "documents",
                         [{"text": t} for t in texts])
        old = self.added.pop(r.randrange(len(self.added))) \
            if self.added else ids.pop()
        self.write(st, self.rs.delete_many, "documents", [old])
        self.added += ids
        self.n_docs += 1

        self.lineitem_version += 1
        self.inc.engine = self.view_engine()
        t = time.perf_counter()
        changed = self.inc.resync_changed()
        st.refresh = time.perf_counter() - t
        st.changes = self.n_lines
        if changed != ["lineitem_by_status", "status_revenue"]:
            st.errors.append(f"resync_changed rebuilt {changed}")

        rows = self.read(st, "status_revenue", sort=("-revenue",), limit=10,
                         show=("revenue", "n"), id_col="_mr_key")
        if sum(row["n"] for row in rows) != self.n_lines:
            st.errors.append("status_revenue line count differs")
        cust = r.randint(1, self.n_cust)
        rows = self.read(st, "order_customer", _mr_key=str(cust),
                         show=("c_name",), id_col="_mr_key")
        if not rows or rows[0]["c_name"] != f"Customer#{cust:09d}":
            st.errors.append(f"order_customer[{cust}]: {rows}")
        self.read(st, "word_count", sort=("-_mr_value",), limit=10,
                  show=("_mr_value",), id_col="_mr_key")
        return st

    def check(self) -> list[str]:
        # the word count has not seen the steps' documents yet
        self.doc_version += 1
        self.inc.engine = self.view_engine()
        self.inc.resync_changed()
        return super().check()


WORKLOADS = {w.name: w for w in (CdcTrickle, BulkResync)}

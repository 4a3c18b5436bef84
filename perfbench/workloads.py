"""The benchmark's workloads.

Each is one closed-loop client that sends its next call only after the
previous one returned. A workload runs in rounds; the timed window is
made of whole rounds. Every call is an op: it is timed alone, and its
output is checked after the clock stops.

- ``dataflow``: the 15 declared queries, two Pipeline-builder graphs and
  one SimHash dedup query. A round is two passes over all 18: one in a
  seeded order, one in the reverse order.
- ``lake_churn``: one writer and maintainer of two merge-on-read tables
  with an aggregate view and a join view over them. A round is one
  commit → change feed → refresh → read cycle, then a compaction of
  both tables.
"""

from __future__ import annotations

import os
import sys
import time
import traceback
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

from check import Oracle, frame_hash


@dataclass
class Op:
    name: str
    seconds: float
    timed: bool
    ok: bool = True
    build_s: float | None = None
    exec_s: float | None = None
    info: dict = field(default_factory=dict)


class Workload:
    name = ""
    tables: tuple[str, ...] = ()

    def __init__(self, spark, data_dir, work_dir, seed, tracer):
        self.spark = spark
        self.data_dir = data_dir
        self.work_dir = work_dir
        self.rng = np.random.default_rng(seed)
        self.tracer = tracer
        self.ops: list[Op] = []
        self.rounds: list[float] = []
        self.timed = False
        self.oracle = Oracle(data_dir, self.tables)

    # -- hooks ---------------------------------------------------------
    def prepare_checks(self) -> None:
        """Compute expected results; not part of the program's set-up."""

    def setup(self) -> None:
        """The program's own set-up for this workload (timed)."""

    def round(self) -> None:
        raise NotImplementedError

    def warm_up(self) -> None:
        """Untimed work that takes the timed rounds' code paths once,
        so that first-call costs stay out of the timed window."""
        self.run_round(timed=False)

    # -- op helpers ----------------------------------------------------
    def _record(self, op: Op) -> None:
        if self.tracer.enabled:
            op.info["counters"] = self.tracer.last_op()
            op.info["trace_op"] = self.tracer.op_id
        self.ops.append(op)

    def _fail(self, name: str, exc: BaseException) -> None:
        print(f"[perfbench] op {name} failed: {exc!r}", file=sys.stderr)
        traceback.print_exc(file=sys.stderr)

    def lazy_op(self, name: str, build):
        """``build()`` returns a DataFrame; the op builds and collects it.
        Returns the collected pandas frame, or None when the op failed."""
        tr = self.tracer
        t0 = time.perf_counter()
        try:
            with tr.span(f"{self.name}.{name}", op=name):
                with tr.span("plans.build"):
                    df = build()
                t1 = time.perf_counter()
                with tr.span("spark.collect"):
                    pdf = df.toPandas()
                t2 = time.perf_counter()
        except Exception as exc:  # an op failure is counted, not fatal
            self._fail(name, exc)
            self._record(Op(name, time.perf_counter() - t0, self.timed, ok=False))
            return None
        self._record(
            Op(name, t2 - t0, self.timed, build_s=t1 - t0, exec_s=t2 - t1)
        )
        return pdf

    def eager_op(self, name: str, call):
        """``call()`` does its work before returning; returns its result."""
        t0 = time.perf_counter()
        try:
            with self.tracer.span(f"{self.name}.{name}", op=name):
                out = call()
                t1 = time.perf_counter()
        except Exception as exc:
            self._fail(name, exc)
            self._record(Op(name, time.perf_counter() - t0, self.timed, ok=False))
            return None
        self._record(Op(name, t1 - t0, self.timed))
        return out

    def verify(self, got, op: Op, expected: str, what: str) -> None:
        """Mark ``op`` wrong unless its output ``got`` hashes to ``expected``."""
        if got is not None and op.ok and frame_hash(got) != expected:
            op.ok = False
            print(f"[perfbench] wrong result: {what}", file=sys.stderr)

    def run_round(self, timed: bool) -> None:
        self.timed = timed
        first = len(self.ops)
        self.round()
        if timed:
            self.rounds.extend(self.round_times(self.ops[first:]))

    def round_times(self, ops: list[Op]) -> list[float]:
        """The user-visible completion times of one round."""
        return [sum(o.seconds for o in ops)]


# ---------------------------------------------------------------------
class Dataflow(Workload):
    name = "dataflow"
    tables = ("lineitem", "orders", "customer", "supplier", "events",
              "documents", "embeddings")
    #: extension queries run beside the declared ones: the two builder
    #: graphs, and one corpus-dedup query for the ``functions`` layer
    EXTENSIONS = ("b1_builder_route", "b2_flatten_positions", "d9_simhash64_pairs_r3")

    def prepare_checks(self):
        from async_pipes_spark.plans.declared import DECLARED_QUERIES
        from async_pipes_spark.plans.extensions import (
            EXTENSION_ORACLES,
            EXTENSION_QUERIES,
        )
        from async_pipes_spark.plans.oracles import DECLARED_ORACLES

        self.queries = dict(DECLARED_QUERIES)
        self.queries.update({g: EXTENSION_QUERIES[g] for g in self.EXTENSIONS})
        oracles = {**DECLARED_ORACLES, **EXTENSION_ORACLES}
        self.expected = {q: self.oracle.sql_hash(oracles[q]) for q in self.queries}

    def _pass(self, order):
        names = list(self.queries)
        for i in order:
            q = names[i]
            fn = self.queries[q]
            pdf = self.lazy_op(q, lambda fn=fn: fn(self.spark, self.data_dir))
            self.verify(pdf, self.ops[-1], self.expected[q], q)

    def warm_up(self):
        self.timed = False
        self._pass(self.rng.permutation(len(self.queries)))

    def round(self):
        # two passes: a seeded order, then the same order reversed, so
        # that each query's mean place in the round, and with it how warm
        # the process is when the query runs, is the same for every seed
        order = self.rng.permutation(len(self.queries))
        self._pass(order)
        self._pass(order[::-1])


# ---------------------------------------------------------------------
_O_SCHEMA = "ok bigint, over bigint, price_cents bigint, custkey bigint, odead boolean"
_C_SCHEMA = "custkey bigint, cver bigint, seg string, bal_cents bigint, cdead boolean"

_AGG_SQL = """
    SELECT seg, SUM(bal_cents) AS sum_bal, COUNT(*) AS n_cust,
           MIN(bal_cents) AS min_bal, MAX(bal_cents) AS max_bal
    FROM c WHERE NOT cdead GROUP BY seg
"""
_JOIN_SQL = """
    SELECT c.seg, SUM(o.price_cents) AS sum_price, COUNT(*) AS n_ord
    FROM o JOIN c USING (custkey)
    WHERE NOT o.odead AND NOT c.cdead GROUP BY c.seg
"""


def _cents(x: pd.Series) -> pd.Series:
    return np.floor(x * 100 + 0.5).astype("int64")


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


class LakeChurn(Workload):
    name = "lake_churn"
    tables = ("orders", "customer")
    #: rows per change batch: orders updated / inserted / deleted, and
    #: customers updated / deleted
    BATCH = {"o_upd": 150, "o_ins": 50, "o_del": 30, "c_upd": 15, "c_del": 3}

    def prepare_checks(self):
        o = pd.read_parquet(f"{self.data_dir}/orders.parquet")
        c = pd.read_parquet(f"{self.data_dir}/customer.parquet")
        self.model_o = pd.DataFrame({
            "ok": o.o_orderkey, "over": 0, "price_cents": _cents(o.o_totalprice),
            "custkey": o.o_custkey, "odead": False,
        }).astype({"over": "int64"})
        self.model_c = pd.DataFrame({
            "custkey": c.c_custkey, "cver": 0, "seg": c.c_mktsegment,
            "bal_cents": _cents(c.c_acctbal), "cdead": False,
        }).astype({"cver": "int64"})
        self.segments = sorted(self.model_c.seg.unique()) + ["SEG_X", "SEG_Y"]
        self.version = 0

    def setup(self):
        from async_pipes_spark.sources.ivm import create_agg_view
        from async_pipes_spark.sources.ivm_join import create_join_view
        from async_pipes_spark.sources.sinks import write_manifest_table

        lake = f"{self.work_dir}/lake"
        self.opath, self.cpath = f"{lake}/orders", f"{lake}/customer"
        self.aview, self.jview = f"{lake}/agg_view", f"{lake}/join_view"
        spark = self.spark
        write_manifest_table(spark, spark.createDataFrame(self.model_o, _O_SCHEMA), self.opath)
        write_manifest_table(spark, spark.createDataFrame(self.model_c, _C_SCHEMA), self.cpath)
        create_agg_view(
            spark, self.cpath, self.aview, ["seg"],
            {
                "sum_bal": ("sum", "bal_cents"),
                "n_cust": ("count", "*"),
                "min_bal": ("min", "bal_cents"),
                "max_bal": ("max", "bal_cents"),
            },
            src_tombstone_col="cdead",
        )
        create_join_view(
            spark, self.opath, self.cpath, self.jview, ["custkey"], ["seg"],
            {"sum_price": ("sum", "price_cents"), "n_ord": ("count", "*")},
            left_tombstone_col="odead", right_tombstone_col="cdead",
        )

    # -- seeded change batches ------------------------------------------
    def _batches(self):
        rng, b = self.rng, self.BATCH
        self.version += 1
        v = self.version
        live_o = self.model_o.ok[~self.model_o.odead].to_numpy()
        picked = rng.choice(live_o, b["o_upd"] + b["o_del"], replace=False)
        upd, dele = picked[: b["o_upd"]], picked[b["o_upd"]:]
        n_cust = len(self.model_c)
        new_keys = self.model_o.ok.max() + 1 + np.arange(b["o_ins"])
        orows = (
            [(int(k), v, int(rng.integers(100_000, 50_000_000)),
              int(rng.integers(0, n_cust)), False) for k in upd]
            + [(int(k), v, int(rng.integers(100_000, 50_000_000)),
                int(rng.integers(0, n_cust)), False) for k in new_keys]
            + [(int(k), v, None, None, True) for k in dele]
        )
        live_c = self.model_c.custkey[~self.model_c.cdead].to_numpy()
        picked = rng.choice(live_c, b["c_upd"] + b["c_del"], replace=False)
        crows = (
            [(int(k), v, str(rng.choice(self.segments)),
              int(rng.integers(-99_999, 999_999)), False) for k in picked[: b["c_upd"]]]
            + [(int(k), v, None, None, True) for k in picked[b["c_upd"]:]]
        )
        return orows, crows

    @staticmethod
    def _apply(model: pd.DataFrame, rows, key: str) -> pd.DataFrame:
        batch = pd.DataFrame(rows, columns=model.columns)
        kept = model[~model[key].isin(batch[key])]
        return pd.concat([kept, batch], ignore_index=True)

    def _expected_changes(self, before: pd.DataFrame, after: pd.DataFrame, keys) -> pd.DataFrame:
        cols = list(before.columns)
        b = before[before.ok.isin(keys) & ~before.odead]
        a = after[after.ok.isin(keys) & ~after.odead]
        out = [
            b[~b.ok.isin(a.ok)].assign(_change_type="delete"),
            a[~a.ok.isin(b.ok)].assign(_change_type="insert"),
            b[b.ok.isin(a.ok)].assign(_change_type="update_preimage"),
            a[a.ok.isin(b.ok)].assign(_change_type="update_postimage"),
        ]
        return pd.concat(out, ignore_index=True)[cols + ["_change_type"]]

    # -- one cycle ------------------------------------------------------
    def _cycle(self):
        from async_pipes_spark.sources.cdc import mor_changes
        from async_pipes_spark.sources.ivm import read_agg_view, refresh_agg_view
        from async_pipes_spark.sources.ivm_join import read_join_view, refresh_join_view
        from async_pipes_spark.sources.sinks import mor_deltas, mor_upsert, read_manifest_table

        # every cycle starts after a compaction: the change feed is the
        # whole backlog, and both refreshes recompute their view in full
        spark = self.spark
        orows, crows = self._batches()
        odf = spark.createDataFrame(orows, _O_SCHEMA)
        cdf = spark.createDataFrame(crows, _C_SCHEMA)
        first = len(self.ops)
        for path, df, keys, ver, tomb in (
            (self.opath, odf, ["ok"], ["over"], "odead"),
            (self.cpath, cdf, ["custkey"], ["cver"], "cdead"),
        ):
            self.eager_op("mor_upsert", lambda: mor_upsert(
                spark, path, df, key_cols=keys, version_cols=ver, tombstone_col=tomb))
            delta = mor_deltas(spark, path)[-1]
            self.ops[-1].info["bytes"] = _dir_bytes(f"{path}/_data/{delta}")
        changes = (
            self.lazy_op("mor_changes", lambda: mor_changes(spark, self.opath)),
            self.ops[-1],
        )
        for name, fn, view in (
            ("refresh_agg_view", refresh_agg_view, self.aview),
            ("refresh_join_view", refresh_join_view, self.jview),
        ):
            st = self.eager_op(name, lambda fn=fn, view=view: fn(spark, view))
            if st is not None:
                self.ops[-1].info["mode"] = st["mode"]
        fresh = sum(o.seconds for o in self.ops[first:])
        reads = []
        for name, read in (
            ("read_manifest_table", lambda: read_manifest_table(spark, self.opath)),
            ("read_agg_view", lambda: read_agg_view(spark, self.aview)),
            ("read_join_view", lambda: read_join_view(spark, self.jview)),
        ):
            reads.append((name, self.lazy_op(name, read), self.ops[-1]))

        # -- checks: every output against the benchmark's own model ----
        before = self.model_o
        self.model_o = o = self._apply(self.model_o, orows, "ok")
        self.model_c = c = self._apply(self.model_c, crows, "custkey")
        expected = self._expected_changes(before, o, [r[0] for r in orows])
        self.verify(*changes, frame_hash(expected), "mor_changes")
        expected = {
            "read_manifest_table": frame_hash(o),
            "read_agg_view": self.oracle.frame_sql_hash(_AGG_SQL, c=c),
            "read_join_view": self.oracle.frame_sql_hash(_JOIN_SQL, o=o, c=c),
        }
        for name, got, op in reads:
            self.verify(got, op, expected[name], name)
        self.ops[-1].info["space_amp"] = self._space_amp()
        return fresh

    def _space_amp(self) -> float:
        """Bytes under both tables ÷ bytes their live states reference."""
        from async_pipes_spark.sources.sinks import manifest_versions

        total = live = 0
        for path in (self.opath, self.cpath):
            total += _dir_bytes(path)
            state = manifest_versions(self.spark, path)[0]
            live += sum(_dir_bytes(f"{path}/_data/{d}") for d in state.split("+"))
        return total / live

    def _compact(self):
        from async_pipes_spark.sources.sinks import compact_small_files

        for path in (self.opath, self.cpath):
            self.eager_op(
                "compact_small_files", lambda path=path: compact_small_files(self.spark, path)
            )

    def warm_up(self):
        # a compaction first, so the untimed cycle takes the timed path
        self.timed = False
        self._compact()
        super().warm_up()

    def round(self):
        self.fresh = self._cycle()
        self._compact()

    def round_times(self, ops):
        """Freshness: from the start of the batch's commit until both
        views are refreshed."""
        return [self.fresh]


# ---------------------------------------------------------------------
WORKLOADS = {w.name: w for w in (Dataflow, LakeChurn)}

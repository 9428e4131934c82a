"""The three workloads: their inputs, ops, output checks and layer probes.

An op is one closed-loop call into ``crick_spark``'s public API.  Its
``setup`` (untimed) prepares the input, ``run`` is the timed call and
returns what ``check`` verifies.  ``probe`` runs only in the traced run,
after the op, and times the layers under it separately.
"""

from __future__ import annotations

import os
import time
from contextlib import nullcontext
from dataclasses import dataclass
from typing import Callable

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StructField, StructType

from crick_spark.functions import (
    exact_percentile_exprs,
    exact_topk,
    exact_topk_per_group,
    summary_stats_exprs,
)
from crick_spark.operators import (
    SketchOps,
    merge_sketches,
    moments_agg,
    partial_sketches,
    spacesaving_topk,
    tdigest_agg,
    tdigest_quantiles,
)
from crick_spark.operators.crick_ops import tdigest_merge_finalize
from crick_spark.pipeline.graph import connected_components
from crick_spark.sketches import Moments, SpaceSaving, TDigest
from crick_spark.streaming.cluster_store import ClusterStore
from crick_spark.streaming.incremental_dedup import process_batch
from crick_spark.streaming.sketch_store import SketchStore

from perfbench import inputs
from perfbench.inputs import GroupedValues
from perfbench.trace import Tracer, plan_counts, replay_kernels

QS = [0.01, 0.25, 0.5, 0.75, 0.99]
FINE_QS = [0.01] + [round(0.05 * i, 2) for i in range(1, 20)] + [0.99]


def _qcol(q: float) -> str:
    """Column name crick_spark gives quantile q."""
    return f"p{str(q).replace('.', '_')}"


QCOLS = [_qcol(q) for q in QS]
TOPK = 10
SS_CAPACITY = 20
APPROX_ACCURACY = 10_000
# t-digest has no worst-case rank bound.  At compression 100 the digests
# here miss by up to ~0.012 (512 groups of ~300 rows, merged from eight
# partials) and ~3e-4 on the large groups; a broken digest misses by more.
TDIGEST_RANK_TOL = 0.05
ARROW_BATCH_ROWS = 10_000

# Input sizes: each op is about one to three seconds of work at local[4].
FACT_ROWS = 2_000_000
SMALL_ROWS = 150_000
WARM_ROWS = 40_000
EVENT_ROWS = 100_000
DOC_ROWS = 400

def _quantiles(qs: list[float]):
    """(finalize, schema) reporting quantiles ``qs`` of a merged digest."""

    def finalize(sk: TDigest) -> pd.DataFrame:
        return pd.DataFrame([{_qcol(q): float(sk.quantile(q)) for q in qs}])

    return finalize, StructType([StructField(_qcol(q), DoubleType()) for q in qs])


_DIGEST_QUANTILES = _quantiles(QS)


def _merge(a, b):
    return a.merge(b)


def _collect(df):
    return df.collect(), df


@dataclass
class Op:
    name: str
    rows: int
    run: Callable[[object], tuple[object, object]]  # arg → (result, DataFrame or None)
    check: Callable[[object], list[str]]
    setup: Callable[[], object] = lambda: None
    layer: str | None = None  # per-layer metric this op's latency feeds
    probe: Callable[[object, float], dict] | None = None  # (arg, latency) → layer figures


@dataclass
class Workload:
    spark: object
    seed: int
    tracer: Tracer
    inputs_bytes: int = 0

    def __post_init__(self):
        # op name → (mean, max) rank error of its reported quantiles
        self.rank_errs: dict[str, tuple[float, float]] = {}

    def _rank_errors(self, name: str, gv: GroupedValues, rows, key_col: str | None, tol_fn, qs=QS) -> list[str]:
        """Rank error of every reported quantile; errors beyond ``tol_fn(n)``
        are check failures.  Records the op's mean and maximum."""
        errs = []
        seen = set()
        all_e = []
        for r in rows:
            key = r[key_col] if key_col else 0
            seen.add(key)
            n = len(gv.slice(key))
            for q in qs:
                e = gv.rank_error(key, q, r[_qcol(q)])
                all_e.append(e)
                if not e <= tol_fn(n):
                    errs.append(f"group {key} q={q}: rank error {e:.4g} > {tol_fn(n):.4g}")
        if all_e:
            self.rank_errs[name] = (float(np.mean(all_e)), float(np.max(all_e)))
        missing = set(gv.index) - seen
        if missing:
            errs.append(f"{len(missing)} groups missing from the result")
        return errs

    def _read(self, table: inputs.Table, cols: list[str]):
        return self.spark.read.parquet(table.path).select(*cols)

    def _scan(self, table: inputs.Table, cols: list[str]) -> dict:
        t = time.perf_counter()
        self._read(table, cols).write.format("noop").mode("overwrite").save()
        return {"sources.scan_s": time.perf_counter() - t, "sources.input_bytes": float(table.nbytes())}

    def exact_answers(self) -> None:
        pass

    def final_checks(self) -> list[tuple[str, list[str]]]:
        return []

    def end_layers(self) -> dict:
        return {}


def _moment_errors(gv: GroupedValues, rows, key_col: str) -> list[str]:
    errs = []
    for r in rows:
        want = gv.moments(r[key_col])
        for name, w in want.items():
            got = r[name]
            rtol = 1e-5 if name in ("skew_x", "kurt_x") else 1e-8
            if got is None or not np.isclose(got, w, rtol=rtol, atol=1e-9):
                errs.append(f"group {r[key_col]} {name}: {got} != {w}")
    if len(rows) != len(gv.groups):
        errs.append(f"{len(rows)} groups, expected {len(gv.groups)}")
    return errs


class FactWorkload(Workload):
    """Ops over the seeded fact tables: ``fact`` for the few/global
    shapes, ``small`` where the op's cost is per group or per item.  The
    warm-up runs every op kind once on ``warm``, a table of the same
    schema with few rows and few groups: it starts the Python workers
    and compiles the same plans without paying a full op."""

    def build_inputs(self, d: str) -> None:
        rng = np.random.default_rng([self.seed, 1])
        self.fact = inputs.fact_table(f"{d}/fact", rng, FACT_ROWS)
        self.small = inputs.fact_table(f"{d}/small", rng, SMALL_ROWS)
        self.warm = inputs.fact_table(f"{d}/warm", rng, WARM_ROWS, many=inputs.FEW_GROUPS)
        self.inputs_bytes = self.fact.nbytes() + self.small.nbytes()

    def timed_ops(self) -> list[Op]:
        return self.ops(self.fact, self.small)

    def warmup_ops(self) -> list[Op]:
        return self.ops(self.warm, self.warm)


# ---------------------------------------------------------------------------
# sketch_groups
# ---------------------------------------------------------------------------


class SketchGroups(FactWorkload):
    """The two-phase sketch path: few/global shapes pay fixed UDF-stage
    cost, the many-group shape pays a kernel and pandas call per group."""

    name = "sketch_groups"

    def exact_answers(self) -> None:
        f, s = self.fact.cols, self.small.cols
        self.exact_all = GroupedValues(np.zeros(FACT_ROWS, np.int64), f["v"])
        self.exact_few = GroupedValues(f["g_few"], f["v"])
        self.exact_many = GroupedValues(s["g_many"], s["v"])
        self.exact_items = inputs.item_counts(s["g_few"], s["item"])

    def ops(self, fact: inputs.Table, small: inputs.Table) -> list[Op]:
        td_tol = lambda n: TDIGEST_RANK_TOL + 1.0 / n  # noqa: E731

        def td(name, table, by, gv):
            key = by[0] if by else None
            return Op(
                name=name,
                rows=table.rows,
                run=lambda _: _collect(tdigest_quantiles(self._read(table, ["v"] + by), "v", QS, by=by)),
                check=lambda rows: self._rank_errors(name, gv, rows, key, td_tol),
                probe=lambda *_: self._probe(table, ["v"] + by, by, "tdigest"),
            )

        return [
            td("tdigest_quantiles.global", fact, [], self.exact_all),
            td("tdigest_quantiles.few", fact, ["g_few"], self.exact_few),
            td("tdigest_quantiles.many", small, ["g_many"], self.exact_many),
            Op(
                name="spacesaving_topk.few",
                rows=small.rows,
                run=lambda _: _collect(
                    spacesaving_topk(
                        self._read(small, ["item", "g_few"]),
                        "item",
                        TOPK,
                        by=["g_few"],
                        capacity=SS_CAPACITY,
                    )
                ),
                check=self._check_topk,
                probe=lambda *_: self._probe(small, ["item", "g_few"], ["g_few"], "spacesaving"),
            ),
            Op(
                name="moments_agg.many",
                rows=small.rows,
                run=lambda _: _collect(moments_agg(self._read(small, ["v", "g_many"]), "v", by=["g_many"])),
                check=lambda rows: _moment_errors(self.exact_many, rows, "g_many"),
                probe=lambda *_: self._probe(small, ["v", "g_many"], ["g_many"], "moments"),
            ),
        ]

    def _check_topk(self, rows) -> list[str]:
        """SpaceSaving's bound ``cnt − error ≤ actual ≤ cnt`` per reported
        item, and every item above n/capacity reported."""
        errs = []
        by_group: dict[int, set] = {}
        for r in rows:
            g, item = r["g_few"], r["item"]
            by_group.setdefault(g, set()).add(item)
            actual = self.exact_items.get((g, item), 0)
            if not r["cnt"] - r["error"] <= actual <= r["cnt"]:
                errs.append(f"group {g} item {item}: actual {actual} outside [{r['cnt'] - r['error']}, {r['cnt']}]")
        group_n: dict[int, int] = {}
        for (g, _), c in self.exact_items.items():
            group_n[g] = group_n.get(g, 0) + c
        for g, n in group_n.items():
            heavy = {it for (gg, it), c in self.exact_items.items() if gg == g and c > n / SS_CAPACITY}
            if len(heavy) <= TOPK and not heavy <= by_group.get(g, set()):
                errs.append(f"group {g}: heavy hitters {sorted(heavy - by_group.get(g, set()))} not reported")
        return errs

    def _probe(self, table, cols, by, kernel) -> dict:
        """Scan, stage 1 alone, stage 2 alone, and the kernel replay."""
        out = self._scan(table, cols)
        src = self._read(table, cols)
        value = cols[0]
        if kernel == "tdigest":
            partial = tdigest_agg(src, value, by=by)
        else:
            partial = partial_sketches(src, _SKETCH_OPS[kernel], [value], by)
        t = time.perf_counter()
        parts = partial.localCheckpoint(eager=True)
        out["operators.partial_s"] = time.perf_counter() - t
        sizes = parts.agg(F.count("*"), F.sum(F.length("sketch"))).first()
        out["operators.partial_rows"] = float(sizes[0])
        out["operators.partial_bytes"] = float(sizes[1])
        t = time.perf_counter()
        merge_sketches(parts, _SKETCH_OPS[kernel], by, _FINALIZE[kernel], _FINAL_SCHEMA[kernel]).collect()
        out["operators.merge_s"] = time.perf_counter() - t
        first = len(table.cols[value]) // inputs.FILES_PER_TABLE  # one task's partition
        keys = table.cols[by[0]][:first] if by else None
        out.update(replay_kernels(kernel, keys, table.cols[value][:first], ARROW_BATCH_ROWS))
        return out


# Stage-2 probes need the same kernels the operators use; the builds
# mirror the column adapters in crick_spark.operators.crick_ops.
_SKETCH_OPS = {
    "tdigest": SketchOps(build=None, merge=_merge),
    "spacesaving": SketchOps(
        build=lambda pdf: SpaceSaving.from_batch(pdf["item"].to_numpy(), None, capacity=SS_CAPACITY),
        merge=_merge,
    ),
    "moments": SketchOps(build=lambda pdf: Moments.from_values(pdf["v"].to_numpy(np.float64)), merge=_merge),
}
_FINALIZE = {
    "tdigest": _DIGEST_QUANTILES[0],
    "spacesaving": lambda sk: pd.DataFrame([{"n_items": float(sk.size())}]),
    "moments": lambda sk: pd.DataFrame([{"n_items": float(sk.n)}]),
}
_COUNT_SCHEMA = StructType([StructField("n_items", DoubleType())])
_FINAL_SCHEMA = {"tdigest": _DIGEST_QUANTILES[1], "spacesaving": _COUNT_SCHEMA, "moments": _COUNT_SCHEMA}


# ---------------------------------------------------------------------------
# exact_queries
# ---------------------------------------------------------------------------
class ExactQueries(FactWorkload):
    """The JVM-only forms on the same tables and group shapes: no Python
    stage and no sketch kernel runs here."""

    name = "exact_queries"

    def exact_answers(self) -> None:
        f, s = self.fact.cols, self.small.cols
        self.exact_pct = GroupedValues(s["g_few"], s["v"])
        self.exact_many = GroupedValues(f["g_many"], f["v"])
        self.top_all = inputs.exact_topk(np.zeros(FACT_ROWS, np.int64), f["item"], TOPK)[0]
        self.top_few = inputs.exact_topk(f["g_few"], f["item"], TOPK)

    def warmup_ops(self) -> list[Op]:
        # After one pass on the warm table (plan compilation) the first
        # pass on the real tables still runs 30-50 % slow while the JIT
        # compiles the operators' hot loops; later passes hold within
        # ~10 % of a minute-long run's level.
        return super().warmup_ops() + self.timed_ops()

    def ops(self, fact: inputs.Table, small: inputs.Table) -> list[Op]:
        pa_tol = lambda n: 1.0 / APPROX_ACCURACY + 1.0 / n  # noqa: E731

        def op(name, table, cols, layer, build, check):
            return Op(
                name=name,
                rows=table.rows,
                run=lambda _: _collect(build(self._read(table, cols))),
                check=check,
                layer=layer,
                probe=lambda *_: self._scan(table, cols),
            )

        def approx(df):
            return df.groupBy("g_many").agg(
                F.percentile_approx("v", QS, APPROX_ACCURACY).alias("q")
            )

        return [
            op(
                "exact_percentile.few",
                small,
                ["v", "g_few"],
                "functions.percentile_s",
                lambda df: df.groupBy("g_few").agg(*exact_percentile_exprs(F.col("v"), QS)),
                self._check_percentile,
            ),
            op(
                "summary_stats.many",
                fact,
                ["v", "g_many"],
                "functions.summary_stats_s",
                lambda df: df.groupBy("g_many").agg(*summary_stats_exprs(F.col("v"))),
                lambda rows: _moment_errors(self.exact_many, rows, "g_many"),
            ),
            op(
                "exact_topk.global",
                fact,
                ["item"],
                "functions.topk_s",
                lambda df: exact_topk(df, "item", TOPK),
                lambda rows: self._check_exact_topk({0: [(r["item"], r["cnt"]) for r in rows]}, {0: self.top_all}),
            ),
            op(
                "exact_topk.few",
                fact,
                ["item", "g_few"],
                "functions.topk_s",
                lambda df: exact_topk_per_group(df, ["g_few"], "item", TOPK),
                self._check_topk_few,
            ),
            op(
                "percentile_approx.many",
                fact,
                ["v", "g_many"],
                "functions.percentile_approx_s",
                approx,
                lambda rows: self._rank_errors(
                    "percentile_approx.many",
                    self.exact_many,
                    [{"g_many": r["g_many"], **dict(zip(QCOLS, r["q"]))} for r in rows],
                    "g_many",
                    pa_tol,
                ),
            ),
        ]

    def _check_percentile(self, rows) -> list[str]:
        errs = []
        all_e = []
        for r in rows:
            v = self.exact_pct.slice(r["g_few"])
            for c, q in zip(QCOLS, QS):
                want = round(float(np.percentile(v, q * 100)), 6)
                if not abs(r[c] - want) <= 1.5e-6:
                    errs.append(f"group {r['g_few']} q={q}: {r[c]} != {want}")
                all_e.append(self.exact_pct.rank_error(r["g_few"], q, r[c]))
        self.rank_errs["exact_percentile.few"] = (float(np.mean(all_e)), float(np.max(all_e)))
        if len(rows) != len(self.exact_pct.groups):
            errs.append(f"{len(rows)} groups, expected {len(self.exact_pct.groups)}")
        return errs

    @staticmethod
    def _check_exact_topk(got: dict, want: dict) -> list[str]:
        return [f"group {g}: {got.get(g)} != {w}" for g, w in want.items() if got.get(g) != w]

    def _check_topk_few(self, rows) -> list[str]:
        got: dict[int, list] = {}
        for r in sorted(rows, key=lambda r: (r["g_few"], -r["cnt"], r["item"])):
            got.setdefault(r["g_few"], []).append((r["item"], r["cnt"]))
        return self._check_exact_topk(got, self.top_few)


# ---------------------------------------------------------------------------
# stream_fold
# ---------------------------------------------------------------------------
class _TimedClusterStore:
    """Hands process_batch a ClusterStore whose fold it can time as the
    child of the batch fold (a child span when the batch fold is traced)."""

    def __init__(self, store: ClusterStore, tracer: Tracer):
        self.store = store
        self.tracer = tracer
        self.fold_s = 0.0

    def fold(self, pairs, batch_id: int) -> bool:
        t = time.perf_counter()
        try:
            with self.tracer.span("ClusterStore.fold") if self.tracer.in_span else nullcontext():
                return self.store.fold(pairs, batch_id)
        finally:
            self.fold_s = time.perf_counter() - t


class StreamFold(Workload):
    """Micro-batches folded one at a time, as foreachBatch delivers them:
    events into a SketchStore, documents with planted near-duplicates
    through process_batch into a ClusterStore.  State grows over the run."""

    name = "stream_fold"

    def build_inputs(self, d: str) -> None:
        self.batches = f"{d}/batches"
        self.state = f"{d}/state"
        self.ev_rng = np.random.default_rng([self.seed, 2])
        self.docs = inputs.DocStream(np.random.default_rng([self.seed, 3]))
        self.ingested: dict[str, list[np.ndarray]] = {t: [] for t in inputs.EVENT_TYPES}
        self.sketch_store = SketchStore(f"{self.state}/sketch", value_col="value", key_col="user_id", by=["event_type"])
        self.cluster_store = _TimedClusterStore(ClusterStore(f"{self.state}/clusters"), self.tracer)
        self.next_event_batch = 0
        self.next_doc_batch = 0
        self.inputs_bytes = 0

    def warmup_ops(self) -> list[Op]:
        # The first fold of each kind creates the stores and the second
        # is the first to read state back; both still pay plan and JIT
        # warm-up.  Both folds' rows stay in the stores and the checks.
        return self.timed_ops() + self.timed_ops()

    def _event_batch(self):
        b = self.next_event_batch
        self.next_event_batch += 1
        cols = inputs.event_batch(self.ev_rng, EVENT_ROWS)
        for t in inputs.EVENT_TYPES:
            self.ingested[t].append(cols["value"][cols["event_type"] == t])
        table = inputs.Table(f"{self.batches}/events-{b:05d}", cols)
        inputs.write_parquet(table.path, cols, 1)
        return b, table

    def _doc_batch(self):
        b = self.next_doc_batch
        self.next_doc_batch += 1
        cols = self.docs.batch(DOC_ROWS)
        table = inputs.Table(f"{self.batches}/docs-{b:05d}", cols)
        inputs.write_parquet(table.path, cols, 1)
        return b, table

    def _sketch_fold(self, arg):
        b, table = arg
        ok = self.sketch_store.fold(self.spark.read.parquet(table.path), b)
        return ok, None

    def _cluster_fold(self, arg):
        b, table = arg
        process_batch(
            self.spark,
            self.spark.read.parquet(table.path),
            "doc_id",
            "text",
            f"{self.state}/buckets",
            f"{self.state}/pairs",
            batch_id=b,
            cluster_store=self.cluster_store,
        )
        return True, None

    def timed_ops(self) -> list[Op]:
        fresh = lambda ok: [] if ok else ["fold was fenced as a replay"]  # noqa: E731
        return [
            Op(
                name="SketchStore.fold",
                rows=EVENT_ROWS,
                setup=self._event_batch,
                run=self._sketch_fold,
                check=fresh,
                layer="streaming.sketch_fold_s",
                probe=self._probe_sketch,
            ),
            Op(
                name="process_batch+ClusterStore.fold",
                rows=DOC_ROWS,
                setup=self._doc_batch,
                run=self._cluster_fold,
                check=fresh,
                probe=self._probe_cluster,
            ),
        ]

    def _probe_sketch(self, arg, latency) -> dict:
        _, table = arg
        out = self._scan(table, ["event_type", "value"])
        src = self.spark.read.parquet(table.path)
        partial = tdigest_agg(src, "value", by=["event_type"])
        t = time.perf_counter()
        parts = partial.localCheckpoint(eager=True)
        out["operators.partial_s"] = time.perf_counter() - t
        sizes = parts.agg(F.count("*"), F.sum(F.length("sketch"))).first()
        out["operators.partial_rows"] = float(sizes[0])
        out["operators.partial_bytes"] = float(sizes[1])
        _, td_path, _ = self.sketch_store.read_meta(self.spark)
        t = time.perf_counter()
        stored = self.spark.read.parquet(td_path).unionByName(parts)
        merged = tdigest_merge_finalize(stored, ["event_type"], *_DIGEST_QUANTILES)
        merged.collect()
        out["operators.merge_s"] = time.perf_counter() - t
        # the fold's own plans are internal to SketchStore: take the
        # Python-stage figures from the probe's stage-1 and stage-2 plans
        for df in (partial, merged):
            for k, v in plan_counts(df).items():
                if k.startswith("operators.udf_"):
                    out[k] = out.get(k, 0.0) + v
        t = time.perf_counter()
        self.sketch_store.digests(self.spark, *_DIGEST_QUANTILES).collect()
        out["streaming.read_s"] = time.perf_counter() - t
        out.update(replay_kernels("tdigest", table.cols["event_type"], table.cols["value"], ARROW_BATCH_ROWS))
        return out

    def _probe_cluster(self, arg, latency) -> dict:
        """process_batch's self time excludes its ClusterStore.fold child."""
        fold_s = self.cluster_store.fold_s
        _, table = arg
        out = self._scan(table, ["doc_id", "text"])
        out["streaming.cluster_fold_s"] = fold_s
        out["pipeline.candidates_s"] = latency - fold_s
        return out

    def final_checks(self) -> list[tuple[str, list[str]]]:
        out = []
        for name, check in (("store_quantiles", self._check_store), ("cluster_labels", self._check_labels)):
            try:
                out.append((name, check()))
            except Exception as e:  # a check that cannot run is a failed check
                out.append((name, [f"{type(e).__name__}: {e}"[:2000]]))
        return out

    def _check_store(self) -> list[str]:
        """Store quantiles per event type against exact ranks over every
        ingested row."""
        rows = self.sketch_store.digests(self.spark, *_quantiles(FINE_QS)).collect()
        vals = [np.concatenate(self.ingested[t]) for t in inputs.EVENT_TYPES]
        keys = [np.full(len(v), i) for i, v in enumerate(vals)]
        gv = GroupedValues(np.concatenate(keys), np.concatenate(vals))
        idx = {t: i for i, t in enumerate(inputs.EVENT_TYPES)}
        rows = [{**r.asDict(), "k": idx[r["event_type"]]} for r in rows]
        return self._rank_errors("store_quantiles", gv, rows, "k", lambda n: TDIGEST_RANK_TOL + 1.0 / n, FINE_QS)

    def _check_labels(self) -> list[str]:
        """ClusterStore labels against connected_components over every
        candidate pair written."""
        spark = self.spark
        pairs = spark.read.parquet(f"{self.state}/pairs").select("id_a", "id_b").distinct()
        want = {r["node"]: r["component"] for r in connected_components(pairs, src="id_a", dst="id_b").collect()}
        got = {r["node"]: r["component"] for r in self.cluster_store.store.labels(spark).collect()}
        errs = []
        if got != want:
            diff = {k for k in set(got) | set(want) if got.get(k) != want.get(k)}
            errs.append(f"{len(diff)} nodes labelled differently from connected_components")
        if not want:
            errs.append("no near-duplicate pairs were found")
        return errs

    def end_layers(self) -> dict:
        files = size = 0
        for root, _, names in os.walk(self.state):
            for n in names:
                files += 1
                size += os.path.getsize(os.path.join(root, n))
        pairs = self.spark.read.parquet(f"{self.state}/pairs").count()
        return {
            "streaming.state_bytes": float(size),
            "streaming.state_files": float(files),
            "pipeline.pairs": pairs / max(self.next_doc_batch, 1),
        }


WORKLOADS = {w.name: w for w in (SketchGroups, ExactQueries, StreamFold)}

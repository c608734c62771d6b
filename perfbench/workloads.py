"""The two benchmark workloads.

Each workload is built from the description of its generated inputs
(see ``gen.py``) and runs two kinds of pass: an untraced pass, timed as
a whole and per operation, and a traced pass that forces each layer on
its own and turns the spans into per-layer metrics. Every pass checks
its outputs against the engine-independent reference; a wrong or
failed result counts as a failed operation.

``event_pipeline`` has two halves with inputs of their own: the ingest
half (:class:`IngestConvert`) and the binning half
(:class:`BinCalibrated`), which reads a table written with pyarrow so
it does not depend on the ingest half's parquet write.
"""

from __future__ import annotations

import hashlib
import math
import os
import shutil
import time
from dataclasses import dataclass

import numpy as np
import pandas as pd

from perfbench import gen
from perfbench.trace import Counters, Tracer


@dataclass
class PassResult:
    """Wall time of one pass, the latency of each operation in it,
    and how many operations it attempted and how many returned a wrong
    result or failed."""

    wall_s: float
    op_s: list[float]
    attempted: int
    failed: int


def _noop(df) -> None:
    """Force a DataFrame without collecting it."""
    df.write.format("noop").mode("overwrite").save()


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
        if not f.startswith((".", "_"))
    )


# ---------------------------------------------------------------------------
# event_pipeline, ingest half
# ---------------------------------------------------------------------------


class IngestConvert:
    """HDF5 event files -> parquet through the public ingest seam."""

    def __init__(self, inputs: dict, work: str):
        self.paths = inputs["paths"]
        self.n_events = inputs["n_events"]
        self.checksum = inputs["checksum"]
        self.out_root = os.path.join(work, "converted")
        self.input_rows = self.n_events

    def _spec(self):
        from mpes_spark.io.binary_source import Hdf5LiteBackend, IngestSpec

        return Hdf5LiteBackend(), IngestSpec(timestamps=True)

    def _check(self, out: str) -> bool:
        n, checksum = gen.converted_checksum(out)
        shutil.rmtree(out)
        return n == self.n_events and checksum == self.checksum

    def run_pass(self, spark, i: int) -> PassResult:
        from mpes_spark.io.binary_source import convert_to_parquet

        backend, spec = self._spec()
        out = os.path.join(self.out_root, f"pass{i}")
        t0 = time.perf_counter()
        convert_to_parquet(spark, self.paths, backend, out, spec)
        wall = time.perf_counter() - t0
        return PassResult(wall, [wall], 1, 0 if self._check(out) else 1)

    def traced_pass(self, spark, tracer: Tracer, i: int):
        from mpes_spark.io.binary_source import convert_to_parquet, read_events_binary

        backend, spec = self._spec()
        out = os.path.join(self.out_root, f"pass{i}")
        with tracer.span("io.chunk_plan") as plan:
            df = read_events_binary(spark, self.paths, backend, spec)
        with tracer.span("io.ingest", parent="io.chunk_plan") as ingest:
            _noop(df)
        with tracer.span("io.convert") as conv:
            convert_to_parquet(spark, self.paths, backend, out, spec)
        written = _dir_bytes(out)
        ok = self._check(out)
        ingest_s = ingest.seconds
        c = ingest.counters
        layers = {
            "io.chunk_plan_s": plan.seconds,
            "io.ingest_s": ingest_s,
            "io.ingest_events_per_s": self.n_events / ingest_s,
            "io.ingest_tasks": c.tasks,
            "io.ingest_cpu_s": c.cpu_s,
            "io.ingest_gc_s": c.gc_s,
            "io.parquet_write_s": conv.seconds - plan.seconds - ingest_s,
            "io.bytes_written": written,
            "io.bytes_written_per_event": written / self.n_events,
        }
        return layers, PassResult(conv.seconds, [conv.seconds], 1, 0 if ok else 1)


# ---------------------------------------------------------------------------
# event_pipeline, binning half
# ---------------------------------------------------------------------------


def _axes(grid):
    from mpes_spark.binning.spec import BinAxis

    return [BinAxis(name, n, lo, hi) for name, n, lo, hi in grid]


class BinCalibrated:
    """Raw correction grid, then calibrate -> jitter -> analysis grid."""

    def __init__(self, inputs: dict, work: str):
        self.path = inputs["path"]
        self.n_events = inputs["n_events"]
        self.corr_sha = inputs["corr_sha256"]
        self.input_rows = self.n_events
        self.corr_axes = _axes(gen.CORR_GRID)
        self.k_axes = _axes(gen.K_GRID)

    def _calibrated(self, spark):
        from mpes_spark.pipeline import EventPipeline

        a, e0 = gen.E_POLY
        return (
            EventPipeline(spark.read.parquet(self.path))
            .apply_homography(gen.HOMOGRAPHY)
            .append_k_axis("Xm", "Ym", **gen.K_AXIS)
            .append_energy_axis_poly(a, e0, t="t")
            .jitter(gen.JITTER, seed=7)
        )

    def _column_bytes(self, columns: list[str]) -> int:
        """On-disk bytes of the column chunks a scan of ``columns``
        reads, from the parquet footer. (The task input-bytes counter
        misses reads the parquet reader makes off the task thread.)"""
        import pyarrow.parquet as pq

        meta = pq.ParquetFile(self.path).metadata
        total = 0
        for rg in range(meta.num_row_groups):
            group = meta.row_group(rg)
            for c in range(group.num_columns):
                if group.column(c).path_in_schema in columns:
                    total += group.column(c).total_compressed_size
        return total

    def _failures(self, corr, kgrid) -> int:
        """Correction grid equals the numpy reference cell for cell;
        every event lands in the analysis grid."""
        corr_ok = hashlib.sha256(np.ascontiguousarray(corr.data).data).hexdigest() == self.corr_sha
        k_ok = float(kgrid.data.sum()) == float(self.n_events)
        return int(not corr_ok) + int(not k_ok)

    def run_pass(self, spark, i: int) -> PassResult:
        from mpes_spark.binning.engine import densify
        from mpes_spark.pipeline import EventPipeline

        t0 = time.perf_counter()
        raw = EventPipeline(spark.read.parquet(self.path))
        corr = densify(raw.bin_sparse(self.corr_axes), self.corr_axes)
        kgrid = self._calibrated(spark).bin(self.k_axes)
        wall = time.perf_counter() - t0
        return PassResult(wall, [wall], 2, self._failures(corr, kgrid))

    def traced_pass(self, spark, tracer: Tracer, i: int):
        from mpes_spark.binning.engine import densify
        from mpes_spark.pipeline import EventPipeline

        raw_cols = [ax.col for ax in self.corr_axes]

        def raw():
            return EventPipeline(spark.read.parquet(self.path))

        with tracer.span("io.scan.corr") as scan_c:
            _noop(raw().df.select(*raw_cols))
        with tracer.span("binning.corr", parent="io.scan.corr") as bin_c:
            _noop(raw().bin_sparse(self.corr_axes))
        with tracer.span("grid.densify.corr", parent="binning.corr") as dense_c:
            corr = densify(raw().bin_sparse(self.corr_axes), self.corr_axes)
        with tracer.span("io.scan.kgrid") as scan_k:
            _noop(raw().df.select(*raw_cols))
        with tracer.span("transforms.calibrate", parent="io.scan.kgrid") as calib:
            _noop(self._calibrated(spark).df.select(*[ax.col for ax in self.k_axes]))
        with tracer.span("binning.kgrid", parent="transforms.calibrate") as bin_k:
            _noop(self._calibrated(spark).bin_sparse(self.k_axes))
        with tracer.span("grid.densify.kgrid", parent="binning.kgrid") as dense_k:
            kgrid = densify(self._calibrated(spark).bin_sparse(self.k_axes), self.k_axes)

        layers = {
            "io.scan_s": scan_c.seconds + scan_k.seconds,
            "io.scan_input_bytes": 2 * self._column_bytes(raw_cols),
            "transforms.calibrate_s": calib.seconds - scan_k.seconds,
            "transforms.cpu_s": calib.counters.cpu_s - scan_k.counters.cpu_s,
            "grid.densify_s": (dense_c.seconds - bin_c.seconds) + (dense_k.seconds - bin_k.seconds),
            "grid.dense_bytes": corr.data.nbytes + kgrid.data.nbytes,
        }
        collected = 0
        for grid, span, below, dense in (
            ("corr", bin_c, scan_c, corr),
            ("kgrid", bin_k, calib, kgrid),
        ):
            c = span.counters
            rows = int(np.count_nonzero(dense.data))
            collected += rows
            layers.update({
                f"binning.{grid}.aggregate_s": span.seconds - below.seconds,
                f"binning.{grid}.shuffle_write_bytes": c.shuffle_write_bytes,
                f"binning.{grid}.shuffle_read_bytes": c.shuffle_read_bytes,
                f"binning.{grid}.spill_bytes": c.spill_bytes,
                f"binning.{grid}.tasks": c.tasks,
                f"binning.{grid}.gc_s": c.gc_s,
                f"binning.{grid}.sparse_rows": rows,
                f"binning.{grid}.occupied_ratio": rows / dense.data.size,
                f"binning.{grid}.in_range_ratio": float(dense.data.sum()) / self.n_events,
            })
        layers["grid.collected_rows"] = collected
        wall = dense_c.seconds + dense_k.seconds
        return layers, PassResult(wall, [wall], 2, self._failures(corr, kgrid))


class EventPipeline:
    """One pass converts the HDF5 files, then bins the event table."""

    name = "event_pipeline"
    #: nominal seconds of one warm pass on 4 cores; sets the pass count
    pass_s = 7.0

    def __init__(self, inputs: dict, work: str):
        self.ingest = IngestConvert(inputs["ingest"], work)
        self.binning = BinCalibrated(inputs["table"], work)
        self.input_rows = self.ingest.input_rows + self.binning.input_rows

    @staticmethod
    def _join(a: PassResult, b: PassResult) -> PassResult:
        wall = a.wall_s + b.wall_s
        return PassResult(wall, [wall], a.attempted + b.attempted, a.failed + b.failed)

    def run_pass(self, spark, i: int) -> PassResult:
        return self._join(self.ingest.run_pass(spark, i), self.binning.run_pass(spark, i))

    def traced_pass(self, spark, tracer: Tracer, i: int):
        ingest_layers, a = self.ingest.traced_pass(spark, tracer, i)
        bin_layers, b = self.binning.traced_pass(spark, tracer, i)
        return ingest_layers | bin_layers, self._join(a, b)


# ---------------------------------------------------------------------------
# query_mix
# ---------------------------------------------------------------------------

#: registry queries of the mix, by the engine module that does their work
FAMILIES = {
    "analysis.graph": ["copurchase_triangles"],
    "extras.dedup": ["minhash_lsh_oracle", "neardup_jaccard"],
    "registry.event": ["hist_3d", "per_file_hist"],
}
QUERIES = [q for names in FAMILIES.values() for q in names]
FAMILY_OF = {q: fam for fam, names in FAMILIES.items() for q in names}


def canon(df: pd.DataFrame) -> pd.DataFrame:
    """Column-sorted, row-sorted frame with widened numeric dtypes —
    the comparison form of ``tools/verify_oracle.py``."""
    out = df.copy()[sorted(df.columns)]
    for c in out.columns:
        if pd.api.types.is_float_dtype(out[c]):
            out[c] = out[c].astype("float64")
        elif pd.api.types.is_integer_dtype(out[c]):
            out[c] = out[c].astype("int64")
    return out.sort_values(by=list(out.columns), ignore_index=True)


def same_result(got: pd.DataFrame, want: pd.DataFrame) -> bool:
    """Shape, column set and order-insensitive exact values (NaN equals
    NaN), as the oracle gate compares them."""
    g, w = canon(got), canon(want)
    if len(g) != len(w) or list(g.columns) != list(w.columns):
        return False
    for col in g.columns:
        for a, b in zip(g[col], w[col]):
            both_nan = isinstance(a, float) and isinstance(b, float) and math.isnan(a) and math.isnan(b)
            if not (a == b or both_nan):
                return False
    return True


def release(spark) -> None:
    """Drop whatever a query left cached or pinned, as bench.py does
    between queries."""
    spark.catalog.clearCache()
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist(False)


class QueryMix:
    """One seed-shuffled pass over oracled registry queries."""

    name = "query_mix"
    pass_s = 3.0

    def __init__(self, inputs: dict, work: str):
        from mpes_spark.registry import all_queries

        self.sf = inputs["dir"]
        self.seed = inputs["seed"]
        self.input_rows = sum(inputs["rows"].values())
        queries = all_queries()
        self.queries = {q: queries[q] for q in QUERIES}
        self.expected = {
            q: pd.read_parquet(os.path.join(inputs["expected_dir"], f"{q}.parquet"))
            for q in QUERIES
        }

    def _order(self, i: int) -> list[str]:
        rng = np.random.default_rng([self.seed, 4, i + 1])
        return [QUERIES[k] for k in rng.permutation(len(QUERIES))]

    def run_pass(self, spark, i: int) -> PassResult:
        lat, failed = [], 0
        for q in self._order(i):
            try:
                t0 = time.perf_counter()
                got = self.queries[q](spark, self.sf).toPandas()
                lat.append(time.perf_counter() - t0)
                failed += not same_result(got, self.expected[q])
            except Exception as exc:  # noqa: BLE001 - a failed query is a counted failure
                print(f"query {q} failed: {type(exc).__name__}: {exc}", flush=True)
                failed += 1
            release(spark)
        return PassResult(sum(lat), lat, len(QUERIES), failed)

    def traced_pass(self, spark, tracer: Tracer, i: int):
        failed = 0
        pinned = used = 0
        for q in self._order(i):
            fam = FAMILY_OF[q]
            try:
                with tracer.span(f"{fam}.build"):
                    df = self.queries[q](spark, self.sf)
                with tracer.span(f"{fam}.plan", parent=f"{fam}.build"):
                    df._jdf.queryExecution().executedPlan()
                with tracer.span(f"{fam}.exec", parent=f"{fam}.plan"):
                    got = df.toPandas()
                failed += not same_result(got, self.expected[q])
            except Exception as exc:  # noqa: BLE001 - a failed query is a counted failure
                print(f"query {q} failed: {type(exc).__name__}: {exc}", flush=True)
                failed += 1
            p, u = tracer.storage()
            pinned, used = pinned + p, used + u
            release(spark)

        layers = {"storage.pinned_rdds_after": pinned, "storage.memory_used_after": used}
        wall = 0.0
        for fam in FAMILIES:
            spans = [s for s in tracer.spans if s.name.startswith(fam + ".")]
            c = sum((s.counters for s in spans), Counters())
            for step in ("build", "plan", "exec"):
                layers[f"{fam}.{step}_s"] = sum(s.seconds for s in spans if s.name == f"{fam}.{step}")
            wall += sum(s.seconds for s in spans)
            layers.update({
                f"{fam}.jobs": c.jobs,
                f"{fam}.stages": c.stages,
                f"{fam}.tasks": c.tasks,
                f"{fam}.cpu_s": c.cpu_s,
                f"{fam}.gc_s": c.gc_s,
                f"{fam}.shuffle_bytes": c.shuffle_write_bytes,
            })
        return layers, PassResult(wall, [], len(QUERIES), failed)


WORKLOADS = {w.name: w for w in (EventPipeline, QueryMix)}

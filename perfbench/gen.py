"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed: the same seed writes
byte-identical files and returns identical checksums. The event
generators also compute the engine-independent reference each workload
is checked against (numpy only, no Spark), and write it next to the
data.
"""

from __future__ import annotations

import datetime
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq

# ---------------------------------------------------------------------------
# order-independent checksums
# ---------------------------------------------------------------------------

_MIX = np.uint64(0x9E3779B97F4A7C15)


def _bits(col: np.ndarray) -> np.ndarray:
    col = np.ascontiguousarray(col)
    if col.dtype == np.float32:
        return col.view(np.uint32).astype(np.uint64)
    if col.dtype == np.float64:
        return col.view(np.uint64)
    raise TypeError(f"checksum expects float32/float64, got {col.dtype}")


def row_checksum(columns: list[np.ndarray]) -> int:
    """Sum over rows (mod 2**64) of a per-row hash of the columns' bit
    patterns. Row order does not matter; a changed value, a swapped
    column or a lost row does."""
    with np.errstate(over="ignore"):
        h = np.zeros(len(columns[0]), dtype=np.uint64)
        for i, col in enumerate(columns):
            b = _bits(col) + np.uint64(i + 1)
            b = (b ^ (b >> np.uint64(31))) * _MIX
            h = (h ^ b) * _MIX + np.uint64(i)
        return int(h.sum(dtype=np.uint64))


# ---------------------------------------------------------------------------
# event_pipeline, ingest half: reference-layout HDF5 event files
# ---------------------------------------------------------------------------

INGEST_ALIASES = ("X", "Y", "t", "ADC")
_EPOCH0 = 1_700_000_000


def _timestamps(n: int, markers: np.ndarray, start: float) -> np.ndarray:
    """Per-event epoch seconds by the reference's msMarkers rule:
    before the first marker -> start; from marker m to the next ->
    start + m/1000; from the last marker on -> start + len/1000."""
    k = np.searchsorted(markers, np.arange(n), side="right")
    ms = np.where(k == 0, 0, np.where(k == markers.size, markers.size, k - 1))
    return start + ms / 1000.0


def write_ingest_files(
    out_dir: str, seed: int, n_files: int, events_per_file: int
) -> dict:
    """Write ``n_files`` HDF5 event files with ``Stream_0..3`` (aliased
    X/Y/t/ADC through the ``Name`` attribute), ``msMarkers`` and a
    ``FirstEventTimeStamp`` root attribute. Returns the paths, the
    event count and the expected checksum of the converted table
    (columns X, Y, t, ADC as float32, then timeStamps as float64)."""
    from mpes_spark.io.hdf5lite import write_hdf5

    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    paths, checksum, n_total = [], 0, 0
    for f in range(n_files):
        n = events_per_file
        streams = {
            "Stream_0": rng.integers(0, 2048, n, dtype=np.int32),
            "Stream_1": rng.integers(0, 2048, n, dtype=np.int32),
            "Stream_2": rng.uniform(69000.0, 70000.0, n),
            "Stream_3": rng.integers(0, 4096, n, dtype=np.int32),
        }
        # ~1000 events per elapsed millisecond, Poisson arrivals
        arrival = np.sort(rng.uniform(0.0, n / 1000.0, n))
        markers = np.searchsorted(arrival, np.arange(int(n / 1000.0))).astype(np.int64)
        start = datetime.datetime.fromtimestamp(
            _EPOCH0 + int(rng.integers(0, 86_400)) + f * 3600,
            tz=datetime.timezone.utc,
        ).replace(microsecond=int(rng.integers(0, 1_000_000)))
        path = os.path.join(out_dir, f"Scan{f:03d}.h5")
        write_hdf5(
            path,
            {**streams, "msMarkers": markers},
            {g: {"Name": a} for g, a in zip(streams, INGEST_ALIASES)},
            {"FirstEventTimeStamp": start.strftime("%Y-%m-%dT%H:%M:%S.%f%z")},
        )
        cols = [streams[g].astype(np.float32) for g in streams]
        cols.append(_timestamps(n, markers, start.timestamp()))
        with np.errstate(over="ignore"):
            checksum = (checksum + row_checksum(cols)) % (1 << 64)
        paths.append(path)
        n_total += n
    return {"paths": paths, "n_events": n_total, "checksum": checksum}


def converted_checksum(parquet_dir: str) -> tuple[int, int]:
    """(row count, checksum) of a converted event table, read with
    pyarrow so the check does not go through Spark. Reads one batch at
    a time, so the check adds little to the process's peak memory."""
    names = [*INGEST_ALIASES, "timeStamps"]
    rows, checksum = 0, 0
    for batch in ds.dataset(parquet_dir, format="parquet").to_batches(
        columns=names, batch_size=1 << 18
    ):
        rows += batch.num_rows
        cols = [batch.column(c).to_numpy() for c in names]
        checksum = (checksum + row_checksum(cols)) % (1 << 64)
    return rows, checksum


# ---------------------------------------------------------------------------
# event_pipeline, binning half: event table, calibration constants,
# reference histogram
# ---------------------------------------------------------------------------

#: correction grid on the raw detector coordinates (Tutorial 06, cell 4)
CORR_GRID = (("X", 512, 0.0, 2048.0), ("Y", 512, 0.0, 2048.0), ("t", 50, 69000.0, 70000.0))
#: perspective correction of the detector image
HOMOGRAPHY = ((1.02, 0.015, -12.0), (-0.01, 0.99, 9.0), (2e-6, -1e-6, 1.0))
#: image -> momentum scale: k = f * (p - p0)
K_AXIS = {"x0": 1024.0, "y0": 1024.0, "fx": 0.0011, "fy": 0.0011}
#: time of flight -> energy polynomial, highest order first, plus E0
E_POLY = ((1e-6, -0.15), 5594.5)
#: analysis grid on the calibrated axes (Tutorial 06, cell 28)
K_GRID = (("kx", 300, -1.5, 1.5), ("ky", 300, -1.5, 1.5), ("E", 500, -6.0, 6.0))
#: uniform jitter amplitude per analysis axis: half a bin
JITTER = {name: (hi - lo) / n / 2.0 for name, n, lo, hi in K_GRID}


def calibrate_np(x: np.ndarray, y: np.ndarray, t: np.ndarray):
    """Float64 numpy replica of the analysis-grid calibration chain
    (homography -> k axes -> energy polynomial)."""
    x, y, t = (np.asarray(a, dtype=np.float64) for a in (x, y, t))
    m = HOMOGRAPHY
    den = m[2][0] * x + m[2][1] * y + m[2][2]
    xm = (m[0][0] * x + m[0][1] * y + m[0][2]) / den
    ym = (m[1][0] * x + m[1][1] * y + m[1][2]) / den
    kx = K_AXIS["fx"] * (xm - K_AXIS["x0"])
    ky = K_AXIS["fy"] * (ym - K_AXIS["y0"])
    a, e0 = E_POLY
    e = np.full_like(t, a[0])
    for c in a[1:]:
        e = e * t + c
    return kx, ky, e * t + e0


def histogram_np(cols: list[np.ndarray], grid) -> np.ndarray:
    """Dense counts with the engine's documented bin rule,
    ``floor((x - lo) / step)`` in float64, half-open ranges."""
    shape = tuple(n for _, n, _, _ in grid)
    flat = np.zeros(len(cols[0]), dtype=np.int64)
    keep = np.ones(len(cols[0]), dtype=bool)
    for col, (_, n, lo, hi) in zip(cols, grid):
        idx = np.floor((np.asarray(col, dtype=np.float64) - lo) / ((hi - lo) / n))
        keep &= (idx >= 0) & (idx < n)
        flat = flat * n + np.clip(idx, 0, n - 1).astype(np.int64)
    counts = np.bincount(flat[keep], minlength=int(np.prod(shape)))
    return counts.reshape(shape)


def _draw_events(rng: np.random.Generator, n: int):
    """One batch of raw (X, Y, t, ADC) float32 events: a detector
    image of a few Gaussian spots over a broad halo, and a
    time-of-flight spectrum of a few peaks over a flat background."""
    spots = np.array([[1024.0, 1024.0], [700.0, 1200.0], [1350.0, 850.0], [1100.0, 1400.0]])
    which = rng.integers(0, len(spots) + 1, n)
    width = np.where(which == len(spots), 380.0, 90.0)
    centre = np.vstack([spots, [[1024.0, 1024.0]]])[which]
    x = centre[:, 0] + rng.normal(0.0, 1.0, n) * width
    y = centre[:, 1] + rng.normal(0.0, 1.0, n) * width
    peaks = np.array([69150.0, 69400.0, 69620.0, 69800.0])
    kind = rng.integers(0, len(peaks) + 1, n)
    t = np.where(
        kind == len(peaks),
        rng.uniform(69000.0, 70000.0, n),
        peaks[np.minimum(kind, len(peaks) - 1)] + rng.normal(0.0, 40.0, n),
    )
    adc = rng.integers(0, 4096, n).astype(np.float32)
    return x.astype(np.float32), y.astype(np.float32), t.astype(np.float32), adc


def _inside(kx, ky, e, x, y, t) -> np.ndarray:
    """Events that stay strictly inside both grids, with a margin of
    the jitter amplitude plus a little float slack on the analysis
    axes, so no event can fall out after jitter."""
    ok = np.ones(len(x), dtype=bool)
    for col, (_, _, lo, hi) in zip((x, y, t), CORR_GRID):
        ok &= (col >= lo) & (col < hi)
    for col, (name, _, lo, hi) in zip((kx, ky, e), K_GRID):
        pad = JITTER[name] * 1.01 + 1e-9 * (hi - lo)
        ok &= (col >= lo + pad) & (col < hi - pad)
    return ok


def write_event_table(out_dir: str, seed: int, n_events: int) -> dict:
    """Write a seeded raw event table (X, Y, t, ADC as float32) with
    pyarrow, plus its numpy reference: the dense correction-grid
    histogram ``corr_ref.npy``. Every event lies inside the
    correction grid and, after the calibration chain and jitter,
    inside the analysis grid."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 2])
    parts, have = [], 0
    while have < n_events:
        x, y, t, adc = _draw_events(rng, n_events)
        ok = _inside(*calibrate_np(x, y, t), x, y, t)
        parts.append((x[ok], y[ok], t[ok], adc[ok]))
        have += int(ok.sum())
    x, y, t, adc = (np.concatenate(c)[:n_events] for c in zip(*parts))
    path = os.path.join(out_dir, "events.parquet")
    # uncompressed, as the reference converts its event files
    pq.write_table(
        pa.table({"X": x, "Y": y, "t": t, "ADC": adc}), path,
        row_group_size=1 << 20, compression="none",
    )
    ref = histogram_np([x, y, t], CORR_GRID)
    np.save(os.path.join(out_dir, "corr_ref.npy"), ref)
    return {
        "path": path,
        "n_events": n_events,
        "corr_ref": ref,
        "checksum": row_checksum([x, y, t, adc]),
    }


# ---------------------------------------------------------------------------
# query_mix: star-schema and document tables
# ---------------------------------------------------------------------------

_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window spill"
).split()
_LANGS = ("en", "zh", "es", "de", "fr")
_LANG_P = (0.44, 0.15, 0.14, 0.14, 0.13)


def _ts_us(rng, n, lo: str, days: int) -> np.ndarray:
    base = np.datetime64(lo, "us").astype(np.int64)
    return (base + rng.integers(0, days * 86_400_000_000, n)).astype("datetime64[us]")


def write_query_tables(out_dir: str, seed: int, scale: float) -> dict:
    """Write the tables the query mix reads (``orders``, ``lineitem``,
    ``events``, ``documents``) with the column layout of the engine's
    synthetic star schema, at scale factor ``scale`` (1.0 = 1.5e6
    orders, 6e6 line items, 1e6 events, 5e4 documents). Part,
    supplier and customer keys are uniform, so the co-purchase graph
    is sparse and peels in several rounds; one document in ten is a
    light edit of an earlier one, so the near-duplicate joins have
    true pairs to verify."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 3])
    n_orders = int(1_500_000 * scale)
    n_lines = 4 * n_orders
    n_cust, n_supp, n_part = int(150_000 * scale), int(10_000 * scale), int(200_000 * scale)
    n_events, n_docs = int(1_000_000 * scale), int(50_000 * scale)
    tables = {}
    tables["orders"] = pa.table({
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_orders, dtype=np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_orders),
        "o_totalprice": np.round(rng.uniform(1000.0, 500_000.0, n_orders), 2),
        "o_orderdate": _ts_us(rng, n_orders, "1995-01-01", 2400),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_orders
        ),
    })
    tables["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_orders, n_lines, dtype=np.int64),
        "l_partkey": rng.integers(0, n_part, n_lines, dtype=np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_lines, dtype=np.int64),
        "l_linenumber": rng.integers(1, 8, n_lines, dtype=np.int32),
        "l_quantity": rng.integers(1, 51, n_lines).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105_000.0, n_lines), 2),
        "l_discount": rng.integers(0, 11, n_lines) / 100.0,
        "l_tax": rng.integers(0, 9, n_lines) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_lines),
        "l_linestatus": rng.choice(["F", "O"], n_lines),
        "l_shipdate": _ts_us(rng, n_lines, "1995-01-02", 2500),
    })
    tables["events"] = pa.table({
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": _ts_us(rng, n_events, "2024-01-01", 30),
        "user_id": rng.integers(0, 150, n_events, dtype=np.int64),
        "event_type": rng.choice(["click", "view", "purchase", "signup", "error"], n_events),
        "value": np.round(np.minimum(rng.exponential(40.0, n_events), 499.0), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })
    texts: list[str] = []
    for i in range(n_docs):
        if i >= 10 and rng.random() < 0.1:
            words = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(words), max(1, len(words) // 20)):
                words[j] = _VOCAB[int(rng.integers(0, len(_VOCAB)))]
        else:
            words = [_VOCAB[k] for k in rng.integers(0, len(_VOCAB), int(rng.integers(10, 100)))]
        texts.append(" ".join(words))
    tables["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(_LANGS, n_docs, p=_LANG_P),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
    })
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {"dir": out_dir, "rows": {k: v.num_rows for k, v in tables.items()}}


# ---------------------------------------------------------------------------
# per-workload entry: ``python -m perfbench.gen <workload> <dir> <seed>``
# ---------------------------------------------------------------------------

#: input sizes of each workload
SIZES = {
    "event_pipeline": {
        "ingest": {"n_files": 4, "events_per_file": 1_500_000},
        "table": {"n_events": 2_500_000},
    },
    "query_mix": {"scale": 0.005},
}


def _files_sha256(root: str) -> str:
    h = hashlib.sha256()
    for d, dirs, files in sorted(os.walk(root)):
        dirs.sort()
        for f in sorted(files):
            h.update(f.encode())
            with open(os.path.join(d, f), "rb") as fh:
                for block in iter(lambda: fh.read(1 << 20), b""):
                    h.update(block)
    return h.hexdigest()


def _generate(workload: str, out_dir: str, seed: int) -> dict:
    size = SIZES[workload]
    if workload == "event_pipeline":
        table = write_event_table(os.path.join(out_dir, "table"), seed, **size["table"])
        ref = table.pop("corr_ref")
        table["corr_sha256"] = hashlib.sha256(ref.astype(np.float64).tobytes()).hexdigest()
        return {
            "ingest": write_ingest_files(os.path.join(out_dir, "ingest"), seed, **size["ingest"]),
            "table": table,
        }
    return write_query_tables(out_dir, seed, **size)


def write_expected(data_dir: str, out_dir: str, queries: list[str]) -> None:
    """Evaluate each query's DuckDB twin over the generated tables and
    store the result as parquet, for the pass checks."""
    import duckdb

    from mpes_spark.registry import all_oracles

    oracles = all_oracles()
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    try:
        for name in sorted(os.listdir(data_dir)):
            table = name.removesuffix(".parquet")
            path = os.path.join(data_dir, name)
            con.execute(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{path}')")
        for q in queries:
            con.execute(oracles[q]).df().to_parquet(os.path.join(out_dir, f"{q}.parquet"))
    finally:
        con.close()


def main(argv: list[str]) -> None:
    """Generate a workload's inputs and print one JSON line: their
    description and the seconds the generation took."""
    import json
    import time

    workload, out_dir, seed = argv[0], argv[1], int(argv[2])
    data_dir = os.path.join(out_dir, "data")
    t0 = time.perf_counter()
    info = _generate(workload, data_dir, seed)
    gen_s = time.perf_counter() - t0
    if workload == "query_mix":
        from perfbench.workloads import QUERIES

        info["expected_dir"] = os.path.join(out_dir, "expected")
        write_expected(data_dir, info["expected_dir"], QUERIES)
    info.update(seed=seed, gen_s=gen_s)
    print(json.dumps(info))


if __name__ == "__main__":
    import sys

    main(sys.argv[1:])

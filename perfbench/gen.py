"""Seeded input generators: the same seed gives byte-identical files.

Every table the engine sees in a benchmark run is written here, from
numpy draws keyed by the workload seed, with pyarrow (whose parquet
writer embeds no timestamps).  Values are chosen so the DuckDB and
numpy twins can check results exactly:

- geo spans sit on the MERRA2 lattice of ``synth`` (lat centres
  18.25 + 0.5·i, lon centres 73.3125 + 0.625·j) with values k/16, so
  every zonal sum is dyadic-exact; a ``HOT_SHARE`` of geo spans lands
  in ``N_HOT`` seeded hot cells (dense urban cells, key skew);
- cutout variables follow ``synth.GRID_VARS``: offset + k/div with a
  power-of-two div;
- embeddings are clustered unit vectors, so cosine equals the dot
  product the PQ scorers rank by.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from geodata_spark.synth import DLAT, DLON, GRID_VARS, LAT0, LON0, NHOURS, NX, NY

HOT_SHARE = 0.3
N_HOT = 4
N_FILES = 8

_LAT_STR = pa.array([f"{LAT0 + DLAT * i:.4f}" for i in range(NY)])
_LON_STR = pa.array([f"{LON0 + DLON * j:.4f}" for j in range(NX)])
_VAL_STR = pa.array([f"{k / 16:.4f}" for k in range(1600)])
_KIND_OF_CODE = pa.array(["text", "text", "geo", "geo", "geo", "image",
                          "raster_tile", "raster_tile"])


def _write_files(table: pa.Table, path: str, n_files: int) -> int:
    """Write ``table`` as ``n_files`` parquet files; return total bytes."""
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // n_files)
    total = 0
    for f in range(n_files):
        fp = os.path.join(path, f"part-{f:03d}.parquet")
        pq.write_table(table.slice(f * step, step), fp)
        total += os.path.getsize(fp)
    return total


def documents(seed: int, n_docs: int) -> tuple[pa.Table, dict[str, np.ndarray]]:
    """documents(doc_id, spans) in the ``input_hint`` schema, plus the
    (lat, lon, hour, val) arrays of its geo spans for the oracle.

    ``media_ref`` uses the exact format ``spatial.parse_geo_spans``
    reads: ``geo:{lat},{lon}@h{hour}#var=wnd100m&val={val}``.
    """
    rng = np.random.default_rng([seed, 1])
    n_spans = rng.integers(2, 7, n_docs)
    offsets = np.zeros(n_docs + 1, dtype=np.int32)
    np.cumsum(n_spans, out=offsets[1:])
    total = int(offsets[-1])
    doc_of = np.repeat(np.arange(n_docs), n_spans)
    j = np.arange(total) - offsets[:-1][doc_of]

    code = rng.integers(0, 8, total)  # 0,1 text | 2,3,4 geo | 5 image | 6,7 tile
    lat_i = rng.integers(0, NY, total)
    lon_i = rng.integers(0, NX, total)
    hot_cells = np.stack([rng.integers(0, NY, N_HOT), rng.integers(0, NX, N_HOT)], 1)
    hot = rng.random(total) < HOT_SHARE
    pick = rng.integers(0, N_HOT, total)
    lat_i = np.where(hot, hot_cells[pick, 0], lat_i)
    lon_i = np.where(hot, hot_cells[pick, 1], lon_i)
    hour = rng.integers(0, NHOURS, total)
    val_k = rng.integers(0, 1600, total)
    words = rng.integers(0, 1000, (total, 3))
    shard = rng.integers(0, 16, total)
    offset = (j * 16 + rng.integers(0, 16, total)).astype(np.int32)

    is_geo = (code >= 2) & (code <= 4)
    is_tile = code >= 6
    is_img = code == 5
    is_text = code <= 1

    lat_s = pc.take(_LAT_STR, lat_i)
    lon_s = pc.take(_LON_STR, lon_i)
    val_s = pc.take(_VAL_STR, val_k)
    hour_s = pc.cast(pa.array(hour), pa.string())
    geo_ref = pc.binary_join_element_wise(
        "geo:", lat_s, ",", lon_s, "@h", hour_s, "#var=wnd100m&val=", val_s, "")
    tile_ref = pc.binary_join_element_wise(
        "tile:", lat_s, ",", lon_s, "@h", hour_s, "#res=7&val=", val_s, "")
    img_ref = pc.binary_join_element_wise(
        "img://shard", pc.cast(pa.array(shard), pa.string()), "/",
        pc.cast(pa.array(doc_of), pa.string()), "/",
        pc.cast(pa.array(j), pa.string()), ".bin", "")
    media_ref = pc.if_else(pa.array(is_geo), geo_ref,
                           pc.if_else(pa.array(is_tile), tile_ref,
                                      pc.if_else(pa.array(is_img), img_ref, "")))
    w = [pc.cast(pa.array(words[:, c]), pa.string()) for c in range(3)]
    text = pc.if_else(pa.array(is_text),
                      pc.binary_join_element_wise("w", w[0], " w", w[1], " w", w[2], ""), "")
    spans_struct = pa.StructArray.from_arrays(
        [pc.take(_KIND_OF_CODE, code), text, media_ref, pa.array(offset, pa.int32())],
        names=["kind", "text", "media_ref", "offset"],
    )
    spans = pa.ListArray.from_arrays(pa.array(offsets, pa.int32()), spans_struct)
    doc_id = pc.binary_join_element_wise(
        "doc", pc.utf8_lpad(pc.cast(pa.array(np.arange(n_docs)), pa.string()), 12, "0"), "")
    table = pa.table({"doc_id": doc_id, "spans": spans})
    geo = {
        "lat": LAT0 + DLAT * lat_i[is_geo],
        "lon": LON0 + DLON * lon_i[is_geo],
        "hour": hour[is_geo].astype(np.int64),
        "val": val_k[is_geo] / 16.0,
    }
    return table, geo


def write_documents(seed: int, n_docs: int, path: str) -> tuple[int, dict[str, np.ndarray]]:
    table, geo = documents(seed, n_docs)
    return _write_files(table, path, N_FILES), geo


def embeddings(seed: int, n: int, dim: int, n_clusters: int, noise: float
               ) -> tuple[np.ndarray, np.ndarray]:
    """(corpus (n, dim), cluster centres) as float32 unit vectors."""
    rng = np.random.default_rng([seed, 2])
    centres = rng.standard_normal((n_clusters, dim))
    x = centres[rng.integers(0, n_clusters, n)] + noise * rng.standard_normal((n, dim))
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return x.astype(np.float32), centres


def query_batches(seed: int, centres: np.ndarray, n_batches: int, batch: int,
                  noise: float) -> list[np.ndarray]:
    """Seeded query batches drawn around the corpus's cluster centres."""
    rng = np.random.default_rng([seed, 3])
    out = []
    for _ in range(n_batches):
        q = centres[rng.integers(0, len(centres), batch)]
        q = q + noise * rng.standard_normal(q.shape)
        q /= np.linalg.norm(q, axis=1, keepdims=True)
        out.append(q.astype(np.float32))
    return out


def vectors_table(ids: np.ndarray, x: np.ndarray, id_col: str, vec_col: str) -> pa.Table:
    flat = pa.array(x.ravel(), pa.float32())
    vec = pa.FixedSizeListArray.from_arrays(flat, x.shape[1]).cast(pa.list_(pa.float32()))
    return pa.table({id_col: pa.array(ids, pa.int64()), vec_col: vec})


def write_embeddings(x: np.ndarray, path: str) -> int:
    t = vectors_table(np.arange(len(x)), x, "vec_id", "embedding")
    return _write_files(t, path, N_FILES)


def cutout(seed: int, n_months: int, hours: int, ny: int, nx: int) -> pa.Table:
    """Long cutout table (month, hour, lat, lon, GRID_VARS…): ``hours``
    hourly steps from the first of each month, on an ``ny`` × ``nx``
    window of the lattice.  Rows are ordered by (month, hour, lat, lon).
    """
    rng = np.random.default_rng([seed, 4])
    month_start = np.cumsum([0, 31, 28, 31, 30, 31, 30, 31, 31, 30, 31, 30])[:n_months] * 24
    cells = ny * nx
    n = n_months * hours * cells
    month = np.repeat(np.arange(1, n_months + 1, dtype=np.int32), hours * cells)
    hour = (np.repeat(month_start, hours * cells)
            + np.tile(np.repeat(np.arange(hours), cells), n_months)).astype(np.int64)
    y0 = int(rng.integers(0, NY - ny + 1))
    x0 = int(rng.integers(0, NX - nx + 1))
    yy, xx = np.divmod(np.tile(np.arange(cells), n_months * hours), nx)
    cols = {
        "month": month,
        "hour": hour,
        "lat": LAT0 + DLAT * (y0 + yy),
        "lon": LON0 + DLON * (x0 + xx),
    }
    for name, (off, span, div, _key) in GRID_VARS.items():
        cols[name] = off + rng.integers(0, span, n) / div
    return pa.table(cols)


def write_cutout(table: pa.Table, path: str) -> int:
    """One directory per month (``month=M``), so Spark discovers the
    partition column the way it reads a month-partitioned catalog."""
    months = table.column("month").to_numpy()
    total = 0
    for m in np.unique(months):
        part = table.filter(pa.array(months == m)).drop_columns(["month"])
        total += _write_files(part, os.path.join(path, f"month={m}"), 1)
    return total

"""Seeded input generator for the benchmark.

Everything the engine sees is built here from a seed, with NumPy and
PyArrow only, so the engine never generates its own inputs:

- an interleaved document snapshot in parquet, with the schema of the
  engine's canonical input ``(doc_id string, spans array<struct<kind,
  text, media_ref, offset>>)``; text spans carry the ten-field point
  payload, media spans reference ``tile/4/<tx>/<ty>``;
- tile-footprint polygons ``(poly_id, ring array<struct<x, y>>)``;
- the typed point table ``(pid, x, y, z, cls)`` those text spans encode;
- a zone raster in long form ``(cell_col, cell_row, zone_id)``;
- kNN query points ``(qid, qx, qy)``.

The world is ``[0, 64) x [0, 64)`` map units; at resolution 1 that is
a 64 x 64 grid. ``hot_pct`` percent of points fall in the cell (1, 1).

Coordinates are drawn as integers and printed as fixed-point decimals,
so the double a parser reads back from the text is the correctly
rounded value of ``integer / 10**digits`` — the same double NumPy
computes from the integers.
"""

from __future__ import annotations

import math
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

WORLD = 64
TILE_LEVEL = 4
TILES = 16
MEDIA_SHARE = 0.25
ZONE_BLOCK = 8  # a zone is a ZONE_BLOCK x ZONE_BLOCK block of cells


@dataclass
class Docs:
    """A generated snapshot plus the per-span arrays it was built from."""

    table: pa.Table
    is_media: np.ndarray
    # point columns of the text spans, in span order; pid = doc * 8 + span
    pid: np.ndarray
    x: np.ndarray
    y: np.ndarray
    z: np.ndarray
    cls: np.ndarray

    def points(self) -> pa.Table:
        """The typed point table the text spans encode."""
        return pa.table({"pid": self.pid, "x": self.x, "y": self.y, "z": self.z,
                         "cls": self.cls.astype(np.int32)})


def _fixed(vals: np.ndarray, digits: int) -> pa.Array:
    """Non-negative integers ``vals`` printed as ``vals / 10**digits``
    with exactly ``digits`` decimals."""
    scale = 10**digits
    whole = pc.cast(pa.array(vals // scale), pa.string())
    frac = pc.utf8_lpad(pc.cast(pa.array(vals % scale), pa.string()), digits, "0")
    return pc.binary_join_element_wise(whole, frac, ".")


def _ints(vals: np.ndarray) -> pa.Array:
    return pc.cast(pa.array(vals), pa.string())


def make_docs(n_docs: int, *, seed: int, hot_pct: int, stream: int = 0) -> Docs:
    """``n_docs`` documents of 2 to 6 spans; a quarter of the spans are
    media. ``stream`` separates independent draws made from one seed
    (the full-size snapshot and the small validation snapshot)."""
    rng = np.random.default_rng([seed, stream])
    per_doc = rng.integers(2, 7, n_docs)
    total = int(per_doc.sum())
    starts = np.cumsum(per_doc) - per_doc
    doc_of = np.repeat(np.arange(n_docs), per_doc)
    span_idx = np.arange(total) - np.repeat(starts, per_doc)
    is_media = rng.random(total) < MEDIA_SHARE
    hot = rng.random(total) < hot_pct / 100.0
    xi = np.where(hot, 10000 + rng.integers(0, 10000, total), rng.integers(0, WORLD * 10000, total))
    yi = np.where(hot, 10000 + rng.integers(0, 10000, total), rng.integers(0, WORLD * 10000, total))
    zi = rng.integers(100, 2000, total)
    gi = rng.integers(0, 10**7, total)
    tiles = rng.integers(0, TILES, (2, total))
    small = rng.integers(0, 1 << 20, total)

    text = pc.binary_join_element_wise(
        _fixed(xi, 4),
        _fixed(yi, 4),
        _fixed(zi, 2),
        _ints(small % 256),            # intensity
        _ints(small % 5 + 1),          # return_num
        _ints(np.full(total, 5)),      # num_returns
        _ints(small % 8),              # cls
        _ints(small % 61 - 30),        # scan_angle
        _fixed(gi, 1),                 # gps_time
        _ints(doc_of % 4),             # source_id
        ";",
    )
    media_ref = pc.binary_join_element_wise(
        pa.scalar(f"tile/{TILE_LEVEL}"),
        _ints(tiles[0]),
        _ints(tiles[1]),
        "/",
    )
    mask = pa.array(is_media)
    null = pa.scalar(None, pa.string())
    span = pa.StructArray.from_arrays(
        [
            pc.if_else(mask, "media", "text"),
            pc.if_else(mask, null, text),
            pc.if_else(mask, media_ref, null),
            pa.array((span_idx * 10 + small % 10).astype(np.int32)),
        ],
        names=["kind", "text", "media_ref", "offset"],
    )
    offsets = pa.array(np.concatenate([[0], np.cumsum(per_doc)]).astype(np.int32))
    doc_id = pc.utf8_replace_slice(
        pc.utf8_lpad(_ints(np.arange(n_docs)), 12, "0"), 0, 0, "doc"
    )
    table = pa.table({"doc_id": doc_id, "spans": pa.ListArray.from_arrays(offsets, span)})
    text_mask = ~is_media
    return Docs(
        table=table,
        is_media=is_media,
        pid=(doc_of * 8 + span_idx)[text_mask],
        x=xi[text_mask] / 1e4,
        y=yi[text_mask] / 1e4,
        z=zi[text_mask] / 1e2,
        cls=(small % 8)[text_mask],
    )


def write_parquet(table: pa.Table, path: str, n_files: int) -> int:
    """Write ``table`` as ``n_files`` parquet files (one row group each,
    so a scan gets one split per file). Returns the bytes written."""
    os.makedirs(path, exist_ok=True)
    step = math.ceil(table.num_rows / n_files)
    size = 0
    for i in range(n_files):
        part = os.path.join(path, f"part-{i:05d}.parquet")
        pq.write_table(table.slice(i * step, step), part, row_group_size=step)
        size += os.path.getsize(part)
    return size


def make_polygons(n_polys: int, *, seed: int) -> list[tuple[int, np.ndarray]]:
    """Tile footprints: rotated rectangles of 1 to 4 map units a side,
    vertices on a 1e-4 grid, rings closed."""
    rng = np.random.default_rng([seed, 7])
    out = []
    for pid in range(n_polys):
        cx, cy = rng.uniform(3.0, WORLD - 3.0, 2)
        hw, hh = rng.uniform(0.5, 2.0, 2)
        a = rng.uniform(0.0, math.pi / 2)
        c, s = math.cos(a), math.sin(a)
        corners = np.array([(-hw, -hh), (hw, -hh), (hw, hh), (-hw, hh), (-hw, -hh)])
        ring = np.column_stack(
            (cx + corners[:, 0] * c - corners[:, 1] * s, cy + corners[:, 0] * s + corners[:, 1] * c)
        )
        out.append((pid, np.round(ring, 4)))
    return out


def make_zones(n_zones: int, *, seed: int) -> np.ndarray:
    """Zone raster: one zone id per ZONE_BLOCK x ZONE_BLOCK cell block.
    Returns an int array of shape (WORLD, WORLD) indexed [col, row]."""
    rng = np.random.default_rng([seed, 11])
    blocks = rng.integers(0, n_zones, (WORLD // ZONE_BLOCK, WORLD // ZONE_BLOCK))
    return np.kron(blocks, np.ones((ZONE_BLOCK, ZONE_BLOCK), dtype=np.int64))


def make_queries(n: int, *, seed: int, stream: int = 0) -> tuple[np.ndarray, np.ndarray]:
    rng = np.random.default_rng([seed, 13, stream])
    qi = rng.integers(5000, WORLD * 10000 - 5000, (2, n))
    return qi[0] / 1e4, qi[1] / 1e4

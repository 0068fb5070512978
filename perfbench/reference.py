"""Independent NumPy/pandas references for the benchmark's output checks.

Nothing here imports the engine. The references read the generated
parquet snapshot directly and parse the span text with ``str.split``,
then compute grid statistics, point-in-polygon hits, kNN/IDW and zonal
statistics by brute force.

Counts, minima, maxima, medians, quantiles and kNN neighbour lists must
match exactly. Sums and moments are accumulated in another order than
Spark's, so they are compared with a relative tolerance of 1e-9 (float64
carries ~16 digits; per-cell sums here have at most ~1e5 terms).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pyarrow.dataset as ds

REL_TOL = 1e-9
EXACT = ("count", "min", "max", "median", "q0", "q1", "q2", "q3", "q4", "q5")


def parse_snapshot(path: str) -> tuple[pd.DataFrame, pd.DataFrame]:
    """(points, media) from a docs snapshot, by plain string splitting.

    points: doc_id, span_idx, x, y, z, cls; media: level, tile_x, tile_y."""
    pts, media = [], []
    for doc in ds.dataset(path, format="parquet").to_table().to_pylist():
        for idx, span in enumerate(doc["spans"]):
            if span["kind"] == "text":
                f = span["text"].split(";")
                pts.append((doc["doc_id"], idx, float(f[0]), float(f[1]), float(f[2]), int(f[6])))
            else:
                _, level, tx, ty = span["media_ref"].split("/")
                media.append((int(level), int(tx), int(ty)))
    return (
        pd.DataFrame(pts, columns=["doc_id", "span_idx", "x", "y", "z", "cls"]),
        pd.DataFrame(media, columns=["level", "tile_x", "tile_y"]),
    )


def with_cells(points: pd.DataFrame, res: float = 1.0) -> pd.DataFrame:
    out = points.copy()
    out["cell_col"] = np.floor(out["x"] / res).astype(np.int64)
    out["cell_row"] = np.floor(out["y"] / res).astype(np.int64)
    return out


def morton(cx: np.ndarray, cy: np.ndarray) -> np.ndarray:
    """Z-order key, bit i of cx at bit 2i and bit i of cy at bit 2i+1."""
    key = np.zeros(len(cx), dtype=np.int64)
    for bit in range(32):
        key |= ((cx >> bit) & 1) << (2 * bit)
        key |= ((cy >> bit) & 1) << (2 * bit + 1)
    return key


def group_stats(values: np.ndarray, *, quantile_num: int | None = None) -> dict:
    """The engine's per-group statistics for one group's values: sample
    variance with the n<=1 -> 0 rule, mean-of-middles median and the
    ceil-index quantile rule."""
    v = np.sort(values)
    n = len(v)
    half = n // 2
    out = {
        "count": n,
        "min": v[0],
        "max": v[-1],
        "sum": float(v.sum()),
        "mean": float(v.mean()),
        "variance": float(v.var(ddof=1)) if n > 1 else 0.0,
        "median": v[half] if n % 2 == 1 else (v[half - 1] + v[half]) / 2.0,
    }
    out["stddev"] = math.sqrt(out["variance"])
    if quantile_num is not None:
        for i in range(quantile_num + 2):
            frac = float(i) / float(quantile_num + 1)
            out[f"q{i}"] = v[int(math.ceil(frac * float(n - 1)))]
    return out


def grouped(df: pd.DataFrame, keys: list[str], value: str, **kw) -> dict:
    return {
        (k if isinstance(k, tuple) else (k,)): group_stats(g[value].to_numpy(), **kw)
        for k, g in df.groupby(keys, sort=False)
    }


def compare(engine: dict, ref: dict, what: str) -> list[str]:
    """Compare ``{key: {stat: value}}`` maps; the engine side names the
    stats it computed and each must agree with the reference."""
    errs = []
    if set(engine) != set(ref):
        missing = len(set(ref) - set(engine))
        extra = len(set(engine) - set(ref))
        return [f"{what}: {missing} groups missing, {extra} unexpected"]
    for key, stats in engine.items():
        for stat, got in stats.items():
            want = ref[key][stat]
            ok = got == want if stat in EXACT else math.isclose(
                got, want, rel_tol=REL_TOL, abs_tol=REL_TOL
            )
            if not ok:
                errs.append(f"{what} {key} {stat}: engine {got!r} != reference {want!r}")
    return errs[:5]


def ray_cast_all(px: np.ndarray, py: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Even-odd rule for every point against one closed ring, edge by edge.
    An edge (x1,y1)-(x2,y2) crosses the +x ray from (px,py) iff
    (y1 > py) != (y2 > py) and px < (x2-x1)*(py-y1)/(y2-y1) + x1."""
    inside = np.zeros(len(px), dtype=bool)
    for (x1, y1), (x2, y2) in zip(ring[:-1], ring[1:]):
        straddle = (y1 > py) != (y2 > py)
        with np.errstate(divide="ignore", invalid="ignore"):
            xint = (x2 - x1) * (py - y1) / (y2 - y1) + x1
        inside ^= straddle & (px < xint)
    return inside


def pip_hits(px: np.ndarray, py: np.ndarray, polygons) -> tuple[dict, int]:
    """({poly_id: points inside}, bbox candidate pairs) over all points.

    Points are sorted by x once; each polygon tests only the x-slice of
    its bbox, then the y range, then the exact ray cast."""
    order = np.argsort(px, kind="stable")
    sx, sy = px[order], py[order]
    hits, candidates = {}, 0
    for pid, ring in polygons:
        lo = np.searchsorted(sx, ring[:, 0].min(), side="left")
        hi = np.searchsorted(sx, ring[:, 0].max(), side="right")
        cx, cy = sx[lo:hi], sy[lo:hi]
        m = (cy >= ring[:, 1].min()) & (cy <= ring[:, 1].max())
        candidates += int(m.sum())
        n = int(ray_cast_all(cx[m], cy[m], ring).sum())
        if n:
            hits[pid] = n
    return hits, candidates


def knn_idw(qx, qy, sx, sy, sz, sid, k: int) -> tuple[dict, dict]:
    """Brute-force kNN ({qid: [sid, ...]} ordered by (dist, sid)) and IDW
    with power 2 and the exact-hit rule, for queries numbered 0..n-1."""
    neighbours, idw = {}, {}
    for q in range(len(qx)):
        dx, dy = qx[q] - sx, qy[q] - sy
        d = np.sqrt(dx * dx + dy * dy)
        top = np.lexsort((sid, d))[:k]
        neighbours[q] = [int(s) for s in sid[top]]
        dk, zk = d[top], sz[top]
        if (dk == 0.0).any():
            idw[q] = float(zk[dk == 0.0].mean())
        else:
            idw[q] = float((zk / (dk * dk)).sum() / (1.0 / (dk * dk)).sum())
    return neighbours, idw

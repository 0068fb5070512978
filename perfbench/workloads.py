"""The benchmark's workloads, each a small graph of calls into the engine.

A workload is a list of ``Node`` steps. A node either builds a lazy
DataFrame from its parent's (``make``) or runs an action on its
parent's frame (``make is None``); a node with a ``sink`` contributes
that sink's value to the job result. One job builds every frame and
runs every sink, so a job lasts from the scan until every sink has
materialised. The traced run materialises each node's frame on its own
(see ``run.py``) to get per-layer self times.

Every node names the layer metric its self time counts towards.

Workloads:
- docs_scan: the BASELINE headline path over a 20%-hot docs snapshot,
  and pip, kNN + IDW and zonal stats over the typed point table of the
  same docs;
- hotspot_write: salted holistic stats, a checkpointed, cell-
  partitioned write and its resume over an 80%-hot snapshot.
"""

from __future__ import annotations

import math
import os
import shutil
import time
from dataclasses import dataclass
from typing import Callable

import numpy as np
import pandas as pd
import pyarrow.dataset as ds
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

import gen
import reference as ref
from geotools_spark.functions.cells import with_cell
from geotools_spark.operators.gridstats import cell_stats
from geotools_spark.operators.neighbors import idw, knn_join, knn_kth_dist_bound_ok
from geotools_spark.operators.pip import pip_join
from geotools_spark.operators.salting import salted_cell_stats
from geotools_spark.operators.spans import explode_spans, parse_media_spans, parse_point_spans
from geotools_spark.operators.zonal import zonal_stats, zone_lookup
from geotools_spark.plans.lineage import write_cell_partitioned

GRID = dict(minx=0.0, miny=0.0, res=1.0, cols=gen.WORLD)


@dataclass
class Node:
    name: str
    layer: str  # per-layer time metric this node's self time counts towards
    parent: str | None
    make: Callable[[DataFrame], DataFrame] | None
    sink: Callable[[DataFrame], object] | None = None


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, parquet files) under ``path``."""
    size = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(root, n))
            files += n.endswith(".parquet")
    return size, files


def _stats_by_key(rows, keys: tuple[str, ...], stats: tuple[str, ...]) -> dict:
    return {
        tuple(r[k] for k in keys): {s: (int(r[s]) if s == "count" else r[s]) for s in stats}
        for r in rows
    }


class Workload:
    """Shared parts: a docs snapshot generated from the seed, and the job
    loop over ``graph()``. ``small=True`` builds the validation-size
    instance, drawn from its own stream of the same seed."""

    name = ""
    defaults: dict = {}
    small_docs = 2000

    def __init__(self, spark: SparkSession, root: str, *, seed: int, cores: int,
                 small: bool = False, **params):
        self.spark = spark
        self.root = root
        self.seed = seed
        self.n_files = 2 * cores
        self.small = small
        self.p = {**self.defaults, **params}
        if small:
            self.p["n_docs"] = self.small_docs

    # -- inputs ---------------------------------------------------------
    def build_docs(self, path: str) -> None:
        self.docs = gen.make_docs(
            self.p["n_docs"], seed=self.seed, hot_pct=self.p["hot_pct"], stream=int(self.small)
        )
        self.docs_path = path
        self.snapshot_bytes = gen.write_parquet(self.docs.table, path, self.n_files)

    def build(self, path: str) -> None:
        """Everything the job reads; timed as set-up."""
        self.build_docs(path)

    @property
    def input_rows(self) -> int:
        return self.p["n_docs"]

    def scan(self, _=None) -> DataFrame:
        return self.spark.read.parquet(self.docs_path)

    # -- job ------------------------------------------------------------
    def graph(self) -> list[Node]:
        raise NotImplementedError

    def frames(self) -> dict[str, DataFrame]:
        """Build the lazy frame of every node that makes one."""
        out: dict[str, DataFrame] = {}
        for n in self.graph():
            if n.make is not None:
                out[n.name] = n.make(out.get(n.parent))
        return out

    def job(self) -> dict:
        frames = self.frames()
        return {
            n.name: n.sink(frames.get(n.name, frames.get(n.parent)))
            for n in self.graph()
            if n.sink is not None
        }

    def cleanup(self, result: dict) -> None:
        pass

    # -- checks ---------------------------------------------------------
    def check(self, result: dict) -> list[str]:
        """Closed-form identities that hold at any size."""
        raise NotImplementedError

    def reference_check(self, result: dict) -> list[str]:
        """Exact comparison with the NumPy/pandas reference (small size)."""
        raise NotImplementedError

    def counts(self, frames: dict[str, DataFrame], result: dict) -> dict[str, float]:
        """Per-layer work counts for the traced run."""
        raise NotImplementedError

    def n_text(self) -> int:
        return len(self.docs.x)

    def n_media(self) -> int:
        return int(self.docs.is_media.sum())

    def span_counts(self, frames) -> dict[str, float]:
        rows = frames["explode"].count()
        return {"spans.rows_out": rows, "spans.rows_per_doc": rows / self.p["n_docs"]}


class DocsScan(Workload):
    """BASELINE's headline path, docs in and spatial joins and tile counts
    out. One job runs both halves over inputs of the same docs:

    - the docs snapshot through explode, parse, cells and grid stats, plus
      the media spans' tile counts (spans, cells, gridstats);
    - the typed point table those docs' text spans encode through pip
      against several hundred tile polygons, kNN + IDW and zonal stats
      (pip, neighbors, zonal; spans does none of this work)."""

    name = "docs_scan"
    defaults = dict(n_docs=40_000, hot_pct=20, n_polys=400, n_zones=16, n_queries=1000, k=8)
    grid_stats = ("count", "min", "max", "mean", "stddev")
    zonal_stats = ("count", "sum", "min", "max", "mean", "median", "variance", "stddev",
                   "q0", "q1", "q2", "q3", "q4", "q5")

    def build(self, path: str) -> None:
        """The docs snapshot, the typed point table written by the generator
        from the values the text spans encode, and the small sides."""
        self.build_docs(os.path.join(path, "docs"))
        self.points_path = os.path.join(path, "points")
        self.snapshot_bytes += gen.write_parquet(self.docs.points(), self.points_path,
                                                 self.n_files)
        # the small sides are tables on disk too, as a deployment has them
        self.polygons = gen.make_polygons(self.p["n_polys"], seed=self.seed)
        self.polys_df = self.table(os.path.join(path, "polygons"), pd.DataFrame({
            "poly_id": np.arange(len(self.polygons), dtype=np.int32),
            "ring": [[{"x": x, "y": y} for x, y in ring.tolist()] for _, ring in self.polygons],
        }))
        self.zones = gen.make_zones(self.p["n_zones"], seed=self.seed)
        cc, cr = np.meshgrid(np.arange(gen.WORLD), np.arange(gen.WORLD), indexing="ij")
        self.zones_df = self.table(os.path.join(path, "zones"), pd.DataFrame(
            {"cell_col": cc.ravel(), "cell_row": cr.ravel(), "zone_id": self.zones.ravel()}))
        n_q = self.p["n_queries"] // (10 if self.small else 1)
        self.qx, self.qy = gen.make_queries(n_q, seed=self.seed, stream=int(self.small))
        self.queries_df = self.table(os.path.join(path, "queries"), pd.DataFrame(
            {"qid": np.arange(n_q), "qx": self.qx, "qy": self.qy}))
        # kNN window: the k-th neighbour is almost surely inside 1 ring of
        # cells when a cell side is 4x the expected k-th neighbour distance
        density = len(self.docs.x) * (1 - self.p["hot_pct"] / 100) / gen.WORLD**2
        self.knn_res = 4 * math.sqrt(self.p["k"] / (math.pi * density))

    def table(self, path: str, frame: pd.DataFrame) -> DataFrame:
        os.makedirs(path)
        frame.to_parquet(os.path.join(path, "part-00000.parquet"), index=False)
        return self.spark.read.parquet(path)

    def points(self, _=None) -> DataFrame:
        return self.spark.read.parquet(self.points_path)

    def knn(self, df: DataFrame, ranked: bool = True) -> DataFrame:
        samples = df.select(F.col("pid").alias("sid"), "x", "y", "z")
        return knn_join(self.queries_df, samples, k=self.p["k"], res=self.knn_res, rings=1,
                        ranked=ranked)

    def graph(self) -> list[Node]:
        return [
            Node("scan", "sources.scan_s", None, self.scan),
            Node("explode", "spans.explode_s", "scan", explode_spans),
            Node("parse", "spans.parse_s", "explode",
                 lambda df: parse_point_spans(df, fields=("x", "y", "z"))),
            Node("cells", "cells.encode_s", "parse", lambda df: with_cell(df, **GRID, zkey=True)),
            Node("grid", "gridstats.agg_s", "cells",
                 lambda df: cell_stats(df, value="z", group=("zkey", "cell_col", "cell_row"),
                                       stats=self.grid_stats),
                 sink=lambda df: _stats_by_key(df.collect(), ("cell_col", "cell_row", "zkey"),
                                               self.grid_stats)),
            Node("tiles", "spans.parse_s", "explode",
                 lambda df: parse_media_spans(df).groupBy("level", "tile_x", "tile_y")
                 .agg(F.count("*").alias("count")),
                 sink=lambda df: {(r.level, r.tile_x, r.tile_y): r["count"] for r in df.collect()}),
            Node("points", "sources.scan_s", None, self.points),
            Node("pip", "pip.join_s", "points",
                 lambda df: pip_join(df.select("pid", "x", "y"), self.polys_df)
                 .groupBy("poly_id").count(),
                 sink=lambda df: {r.poly_id: r["count"] for r in df.collect()}),
            Node("knn", "neighbors.knn_s", "points", lambda df: idw(self.knn(df)),
                 sink=lambda df: {r.qid: r.idw for r in df.collect()}),
            Node("point_cells", "cells.encode_s", "points", lambda df: with_cell(df, **GRID)),
            Node("zonal", "zonal.stats_s", "point_cells",
                 lambda df: zonal_stats(zone_lookup(df, self.zones_df)),
                 sink=lambda df: _stats_by_key(df.collect(), ("zone_id", "cls"),
                                               self.zonal_stats)),
        ]

    def expected_hits(self) -> tuple[dict, int]:
        if not hasattr(self, "_hits"):
            self._hits = ref.pip_hits(self.docs.x, self.docs.y, self.polygons)
        return self._hits

    def knn_window_exact(self) -> bool:
        """knn_join's exactness guarantee for these inputs: every k-th
        neighbour lies inside the one-ring window. The inputs are fixed for
        the run, so this is computed once."""
        if not hasattr(self, "_knn_exact"):
            self._knn_exact = knn_kth_dist_bound_ok(self.knn(self.points()), k=self.p["k"],
                                                    res=self.knn_res, rings=1)
        return self._knn_exact

    def check(self, result):
        errs = []
        n = sum(s["count"] for s in result["grid"].values())
        if n != self.n_text():
            errs.append(f"grid counts sum to {n}, text spans are {self.n_text()}")
        m = sum(result["tiles"].values())
        if m != self.n_media():
            errs.append(f"tile counts sum to {m}, media spans are {self.n_media()}")
        if result["pip"] != self.expected_hits()[0]:
            errs.append("pip hits per polygon differ from the brute-force count")
        if len(result["knn"]) != len(self.qx):
            errs.append(f"idw rows {len(result['knn'])} != queries {len(self.qx)}")
        if not self.knn_window_exact():
            errs.append("a k-th neighbour lies outside the kNN window: knn_join is inexact")
        n = sum(s["count"] for s in result["zonal"].values())
        if n != self.n_text():
            errs.append(f"zonal counts sum to {n}, points are {self.n_text()}")
        return errs

    def reference_check(self, result):
        pts, media = ref.parse_snapshot(self.docs_path)
        pts = ref.with_cells(pts)
        pts["zkey"] = ref.morton(pts["cell_col"].to_numpy(), pts["cell_row"].to_numpy())
        errs = ref.compare(result["grid"], ref.grouped(pts, ["cell_col", "cell_row", "zkey"], "z"),
                           "grid")
        if result["tiles"] != media.value_counts(["level", "tile_x", "tile_y"]).to_dict():
            errs.append("tile counts differ from the reference")
        pts["pid"] = pts["doc_id"].str[3:].astype(np.int64) * 8 + pts["span_idx"]
        px, py = pts["x"].to_numpy(), pts["y"].to_numpy()
        if result["pip"] != ref.pip_hits(px, py, self.polygons)[0]:
            errs.append("pip hits differ from the brute-force ray cast")
        neighbours, want_idw = ref.knn_idw(
            self.qx, self.qy, px, py, pts["z"].to_numpy(), pts["pid"].to_numpy(), self.p["k"]
        )
        got = {}
        for r in self.knn(self.points()).select("qid", "sid", "knn_rank").collect():
            got.setdefault(r.qid, []).append((r.knn_rank, r.sid))
        got = {q: [s for _, s in sorted(v)] for q, v in got.items()}
        if got != neighbours:
            errs.append("kNN neighbour lists differ from brute force")
        errs += ref.compare({(q,): {"idw": v} for q, v in result["knn"].items()},
                            {(q,): {"idw": v} for q, v in want_idw.items()}, "idw")
        pts["zone_id"] = self.zones[pts["cell_col"].to_numpy(), pts["cell_row"].to_numpy()]
        errs += ref.compare(result["zonal"], ref.grouped(pts, ["zone_id", "cls"], "z",
                                                         quantile_num=4), "zonal")
        return errs

    def counts(self, frames, result):
        hits = sum(result["pip"].values())
        pairs = self.knn(frames["points"], ranked=False).count()
        return {
            **self.span_counts(frames),
            "gridstats.groups_out": len(result["grid"]),
            "pip.hits": hits,
            "pip.hit_ratio": hits / max(self.expected_hits()[1], 1),
            "neighbors.candidate_pairs": pairs,
            "neighbors.kept_ratio": self.p["k"] * len(self.qx) / max(pairs, 1),
        }


class HotspotWrite(Workload):
    name = "hotspot_write"
    defaults = dict(n_docs=10_000, hot_pct=80, level_delta=4, n_salts=16)
    stats = ("count", "min", "max", "mean", "stddev", "median")
    write_cols = ("doc_id", "span_idx", "x", "y", "z", "zkey")

    def out_path(self) -> str:
        return os.path.join(self.root, "out", f"table-{time.monotonic_ns()}")

    def write(self, df: DataFrame, path: str, run_id: str) -> dict:
        return write_cell_partitioned(df.select(*self.write_cols), path,
                                      level_delta=self.p["level_delta"], run_id=run_id)

    def graph(self) -> list[Node]:
        return [
            Node("scan", "sources.scan_s", None, self.scan),
            Node("explode", "spans.explode_s", "scan", explode_spans),
            Node("parse", "spans.parse_s", "explode",
                 lambda df: parse_point_spans(df, fields=("x", "y", "z"))),
            Node("cells", "cells.encode_s", "parse", lambda df: with_cell(df, **GRID, zkey=True)),
            Node("salting", "salting.agg_s", "cells",
                 lambda df: salted_cell_stats(df, stats=self.stats, n_salts=self.p["n_salts"]),
                 sink=lambda df: _stats_by_key(df.collect(), ("cell_col", "cell_row"), self.stats)),
            Node("write", "lineage.write_s", "cells", None, sink=self._write_sink),
            Node("resume", "lineage.resume_skip_s", "cells", None, sink=self._resume_sink),
        ]

    def _write_sink(self, df: DataFrame) -> dict:
        self.table_path = self.out_path()
        return {"path": self.table_path, **self.write(df, self.table_path, run_id="write")}

    def _resume_sink(self, df: DataFrame) -> dict:
        """Re-run the write on the table just committed: every partition
        is done, so it must write nothing."""
        return self.write(df, self.table_path, run_id="resume")

    def cleanup(self, result):
        shutil.rmtree(result["write"]["path"], ignore_errors=True)

    def check(self, result):
        errs = []
        n = sum(s["count"] for s in result["salting"].values())
        if n != self.n_text():
            errs.append(f"salted counts sum to {n}, text spans are {self.n_text()}")
        if result["write"]["rows"] != self.n_text():
            errs.append(f"write committed {result['write']['rows']} rows of {self.n_text()}")
        if result["resume"]["rows"] != 0:
            errs.append(f"resume wrote {result['resume']['rows']} rows, expected 0")
        return errs

    def reference_check(self, result):
        pts = ref.with_cells(ref.parse_snapshot(self.docs_path)[0])
        errs = ref.compare(result["salting"], ref.grouped(pts, ["cell_col", "cell_row"], "z"),
                           "salted stats")
        return errs + self.table_check(pts, result["write"]["path"])

    def table_check(self, pts: pd.DataFrame, path: str) -> list[str]:
        """After the write and its resume, the table holds exactly the
        reference's point rows, each under its level-(L - level_delta) cell
        partition."""
        part = ref.morton(pts["cell_col"].to_numpy(), pts["cell_row"].to_numpy()) >> (
            2 * self.p["level_delta"])
        want = sorted(zip(pts["doc_id"], pts["span_idx"], part.tolist()))
        table = ds.dataset(path, format="parquet", partitioning="hive").to_table()
        got = sorted(zip(table["doc_id"].to_pylist(), table["span_idx"].to_pylist(),
                         table["cell_part"].to_pylist()))
        if got != want:
            return ["written (doc_id, span_idx, cell_part) rows differ from the reference"]
        return []

    def counts(self, frames, result):
        size, files = dir_bytes(result["write"]["path"])
        return {**self.span_counts(frames), "lineage.bytes_written": size,
                "lineage.files_written": files}


WORKLOADS = {w.name: w for w in (DocsScan, HotspotWrite)}

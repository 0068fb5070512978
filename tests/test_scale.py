"""Scale machinery: salted two-phase aggregation equals the one-phase
plan on a skewed table; checkpointed writes resume without recompute."""

import uuid

import pytest
from pyspark.sql import functions as F

from geotools_spark.functions.cells import with_cell
from geotools_spark.operators.gridstats import cell_stats
from geotools_spark.operators.salting import salted_cell_stats
from geotools_spark.operators.spans import explode_spans, parse_point_spans
from geotools_spark.plans import lineage
from geotools_spark.sources.datagen import synthetic_documents


@pytest.fixture(scope="module")
def skewed_cells(spark):
    docs = synthetic_documents(spark, 4000, hot_fraction_pct=30)
    pts = parse_point_spans(explode_spans(docs))
    return with_cell(pts, minx=0.0, miny=0.0, res=1.0, cols=64).cache()


STATS = ("count", "min", "max", "sum", "mean", "variance", "stddev", "median")


def test_salted_equals_plain(spark, skewed_cells):
    plain = {
        (r.cell_col, r.cell_row): r
        for r in cell_stats(skewed_cells, stats=STATS, res=1.0).collect()
    }
    salted = {
        (r.cell_col, r.cell_row): r
        for r in salted_cell_stats(
            skewed_cells, stats=STATS, res=1.0, n_salts=8
        ).collect()
    }
    assert set(plain) == set(salted)
    # the hot cell at (1,1) really is hot
    assert plain[(1, 1)]["count"] > 20 * sorted(
        r["count"] for r in plain.values()
    )[len(plain) // 2]
    for key, p in plain.items():
        s = salted[key]
        for stat in STATS:
            assert s[stat] == pytest.approx(p[stat], rel=1e-9, abs=1e-9), (key, stat)


def test_salted_quantiles(spark, skewed_cells):
    plain = {
        (r.cell_col, r.cell_row): r
        for r in cell_stats(
            skewed_cells, stats=("count", "quantiles"), res=1.0, quantile_num=4
        ).collect()
    }
    salted = {
        (r.cell_col, r.cell_row): r
        for r in salted_cell_stats(
            skewed_cells, stats=("count", "quantiles"), res=1.0, quantile_num=4, n_salts=8
        ).collect()
    }
    for key, p in plain.items():
        for q in ("q0", "q2", "q5"):
            assert salted[key][q] == p[q], (key, q)


def test_by_value_quantiles_equal_list_path(spark, skewed_cells):
    """VERDICT r02 #2: the by-value order-statistic path must be
    bit-identical to the sorted-list path on the hot-cell fixture —
    median tie rule and ceil-index quantiles included."""
    from geotools_spark.operators.salting import exact_quantiles_by_value

    plain = {
        (r.cell_col, r.cell_row): r
        for r in cell_stats(
            skewed_cells, stats=("count", "median", "quantiles"), res=1.0, quantile_num=4
        ).collect()
    }
    byval = {
        (r.cell_col, r.cell_row): r
        for r in exact_quantiles_by_value(
            skewed_cells, value="z", quantile_num=4
        ).collect()
    }
    assert set(plain) == set(byval)
    for key, p in plain.items():
        b = byval[key]
        assert float(b["count"]) == p["count"], key
        assert b["median"] == p["median"], key  # exact, incl. even-n average
        for i in range(6):
            assert b[f"q{i}"] == p[f"q{i}"], (key, i)


def test_by_value_quantiles_edge_cases(spark):
    """n=1 cells, even/odd n, all-duplicate cells — the median tie rule
    and ceil-index selections must hold at the boundaries."""
    from geotools_spark.operators.salting import exact_quantiles_by_value

    rows = (
        [(0, 0, 5.0)]                                   # n=1
        + [(1, 0, float(v)) for v in (1, 2, 3, 4)]      # even n, distinct
        + [(2, 0, 7.0)] * 6                             # all duplicates
        + [(3, 0, float(v)) for v in (9, 1, 5)]         # odd n
        + [(4, 0, 2.0), (4, 0, 2.0), (4, 0, 4.0)]       # dup + distinct
    )
    df = spark.createDataFrame(rows, "cell_col long, cell_row long, z double")
    out = {r.cell_col: r for r in exact_quantiles_by_value(df, value="z").collect()}
    assert out[0]["median"] == 5.0 and out[0]["q0"] == 5.0 and out[0]["q5"] == 5.0
    assert out[1]["median"] == 2.5          # even: mean of middles
    assert out[1]["q0"] == 1.0 and out[1]["q5"] == 4.0
    assert out[2]["median"] == 7.0 and out[2]["q3"] == 7.0
    assert out[3]["median"] == 5.0          # odd: exact element
    assert out[4]["median"] == 2.0          # dup-weighted middle
    # ceil-index rule spot check: n=4, q2 -> idx ceil(2/5*3)=2 -> 3.0
    assert out[1]["q2"] == 3.0


def test_by_value_quantiles_plan_has_no_third_exchange(spark, skewed_cells):
    """Plan shape: partial(map-side) agg on (cell, value), one shuffle
    for it, one shuffle for the per-cell window — the final order-
    statistic groupBy must REUSE the window's hash partitioning."""
    from geotools_spark.operators.salting import exact_quantiles_by_value

    df = exact_quantiles_by_value(skewed_cells, value="z", quantile_num=4)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 2, plan
    assert "partial" in plan.lower()  # map-side combine on (cell, value)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_checkpointed_write_resume(spark, tmp_path, skewed_cells):
    path = str(tmp_path / "table")
    grid = cell_stats(skewed_cells, stats=("count", "mean"), res=1.0).withColumn(
        "part_key", (F.col("cell_col") / 16).cast("int")
    )
    total = grid.count()

    r1 = lineage.checkpointed_write(grid, path, part_col="part_key", run_id="run1")
    assert r1["rows"] == total
    assert lineage.read_table(spark, path).count() == total

    # resume: nothing left to write, table unchanged (no duplicates)
    r2 = lineage.checkpointed_write(grid, path, part_col="part_key", run_id="run2")
    assert r2["rows"] == 0 and r2["partitions"] == 0
    assert lineage.read_table(spark, path).count() == total

    # partial manifest -> only missing partitions are recomputed
    m = lineage.read_manifest(path)
    dropped = sorted(m["completed"])[0]
    del m["completed"][dropped]
    import json, os
    with open(os.path.join(path, "_manifest.json"), "w") as fh:
        json.dump(m, fh)
    # remove that partition's files to simulate a failed run
    import shutil
    shutil.rmtree(os.path.join(path, f"part_key={dropped}"))
    r3 = lineage.checkpointed_write(grid, path, part_col="part_key", run_id="run3")
    assert r3["partitions"] == 1
    assert lineage.read_table(spark, path).count() == total

    lin = lineage.read_lineage(spark, path)
    assert {r.run_id for r in lin.collect()} == {"run1", "run3"}
    # run3's lineage row for the re-written key carries that key's row count
    want = grid.filter(F.col("part_key").cast("string") == dropped).count()
    got = [(r.part_key, r.rows) for r in lin.filter(F.col("run_id") == "run3").collect()]
    assert got == [(dropped, want)]


def test_partition_pruning_on_checkpointed_table(spark, tmp_path, skewed_cells):
    path = str(tmp_path / "pruned")
    grid = cell_stats(skewed_cells, stats=("count",), res=1.0).withColumn(
        "part_key", (F.col("cell_col") / 16).cast("int")
    )
    lineage.checkpointed_write(grid, path, part_col="part_key", run_id="r")
    rd = lineage.read_table(spark, path).filter(F.col("part_key") == 1)
    plan = rd._jdf.queryExecution().executedPlan().toString()
    # partition filter must reach the scan (pruned listing), not a post-filter
    assert "PartitionFilters: [isnotnull(part_key" in plan or "part_key#" in plan
    assert rd.count() == grid.filter(F.col("part_key") == 1).count()


def test_compact_partitions(spark, tmp_path, skewed_cells):
    """Small-file compaction: per-partition file piles collapse to one
    file, logical content is bit-identical, the manifest records the
    compaction run, and time travel still works."""
    import os

    path = str(tmp_path / "compact")
    grid = cell_stats(skewed_cells, stats=("count", "mean"), res=1.0).withColumn(
        "part_key", (F.col("cell_col") / 16).cast("int")
    )
    # force many small files per partition
    lineage.checkpointed_write(
        grid.repartition(8), path, part_col="part_key", run_id="w1"
    )
    before = {r.part_key: r for r in lineage.read_table(spark, path).collect()}

    def files_of(part):
        d = os.path.join(path, f"part_key={part}")
        return [f for f in os.listdir(d) if f.endswith(".parquet")]

    parts = sorted(
        int(d.split("=")[1]) for d in os.listdir(path) if d.startswith("part_key=")
    )
    assert any(len(files_of(p)) > 1 for p in parts)  # fixture really is fragmented

    res = lineage.compact_partitions(spark, path, run_id="c1", target_files=1)
    assert res["partitions"] >= 1
    assert res["files_after"] == res["partitions"]  # one file each
    for p in parts:
        if len(files_of(p)) > 1:
            raise AssertionError(f"partition {p} still fragmented")
    after = {r.part_key: r for r in lineage.read_table(spark, path).collect()}
    assert set(before) == set(after)
    for k, b in before.items():
        a = after[k]
        assert (a["count"], a["mean"]) == (b["count"], b["mean"]), k
    # manifest + lineage record the compaction; resume semantics intact
    m = lineage.read_manifest(path)
    assert any(r.get("compaction") for r in m["runs"])
    lin = lineage.read_lineage(spark, path)
    assert lin.filter(F.col("run_id") == "c1").count() == res["partitions"]
    # a re-write run still skips everything (completed map untouched)
    r2 = lineage.checkpointed_write(grid, path, part_col="part_key", run_id="w2")
    assert r2["rows"] == 0
    # idempotent: second compaction finds nothing to do
    res2 = lineage.compact_partitions(spark, path, run_id="c2", target_files=1)
    assert res2["partitions"] == 0


def test_compact_crash_recovery(spark, tmp_path, skewed_cells):
    """The swap order never leaves a partition absent: a crash that
    moved the live dir to <part>.old (rewrite not yet in place) is
    restored by the next compaction's recovery pass; a crash after the
    swap (stale .old beside a live dir) is cleaned up. Non-local URIs
    are rejected early."""
    import os
    import shutil

    path = str(tmp_path / "crash")
    grid = cell_stats(skewed_cells, stats=("count",), res=1.0).withColumn(
        "part_key", (F.col("cell_col") / 16).cast("int")
    )
    lineage.checkpointed_write(
        grid.repartition(4), path, part_col="part_key", run_id="w1"
    )
    before = lineage.read_table(spark, path).count()
    parts = sorted(d for d in os.listdir(path) if d.startswith("part_key="))
    assert len(parts) >= 2
    # crash type 1: live dir renamed aside, rewrite never landed
    p0 = os.path.join(path, parts[0])
    os.replace(p0, p0 + ".old")
    # crash type 2: swap finished but old copy not deleted
    p1 = os.path.join(path, parts[1])
    shutil.copytree(p1, p1 + ".old")
    lineage.compact_partitions(spark, path, run_id="c1", target_files=1)
    assert not any(d.endswith(".old") for d in os.listdir(path))
    assert os.path.isdir(p0)
    assert lineage.read_table(spark, path).count() == before
    with pytest.raises(ValueError, match="local-filesystem-only"):
        lineage.compact_partitions(spark, "hdfs://nn/x", run_id="c2")


def test_time_travel_read(spark, tmp_path, skewed_cells):
    """as_of_run exposes only partitions committed by runs <= the
    snapshot — the Iceberg snapshot-read analogue."""
    path = str(tmp_path / "tt")
    grid = cell_stats(skewed_cells, stats=("count",), res=1.0).withColumn(
        "part_key", (F.col("cell_col") / 16).cast("int")
    )
    half = grid.filter(F.col("part_key") <= 1)
    rest = grid.filter(F.col("part_key") > 1)
    lineage.checkpointed_write(half, path, part_col="part_key", run_id="r1")
    lineage.checkpointed_write(rest, path, part_col="part_key", run_id="r2")
    n1 = lineage.read_table(spark, path, as_of_run="r1").count()
    n2 = lineage.read_table(spark, path, as_of_run="r2").count()
    assert n1 == half.count()
    assert n2 == grid.count()
    import pytest as _pt
    with _pt.raises(ValueError):
        lineage.read_table(spark, path, as_of_run="nope")


def test_cell_partitioned_write_spatial_locality(spark, tmp_path, skewed_cells):
    """Range partitioning on the Z-order key: each written file covers
    a contiguous zkey range (spatial locality), the directory layout
    partitions by the parent cell, and reads prune on it."""
    import os
    from geotools_spark.functions.cells import morton_key

    path = str(tmp_path / "cellpart")
    pts = skewed_cells.withColumn(
        "zkey", morton_key(F.col("cell_col"), F.col("cell_row"))
    )
    res = lineage.write_cell_partitioned(pts, path, level_delta=4, run_id="w1")
    assert res["rows"] == pts.count()
    # directory partitioning on the parent key exists
    parts = [d for d in os.listdir(path) if d.startswith("cell_part=")]
    assert len(parts) >= 2
    # parent key is consistent: every row's zkey >> 8 equals its dir key
    rd = lineage.read_table(spark, path)
    bad = rd.filter(
        F.shiftright(F.col("zkey"), 8) != F.col("cell_part")
    ).count()
    assert bad == 0
    # pruned read matches a full-scan filter
    one = int(parts[0].split("=")[1])
    assert (
        rd.filter(F.col("cell_part") == one).count()
        == pts.filter(F.shiftright(F.col("zkey"), 8) == one).count()
    )

    # resume on the fully committed table: the per-key count is the only
    # work (the jobs of one aggregation), no data file, no lineage row
    def files():
        return sorted(os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)

    before, n_lineage = files(), lineage.read_lineage(spark, path).count()
    sc = spark.sparkContext
    resume, bare = f"resume-{uuid.uuid4().hex}", f"count-{uuid.uuid4().hex}"
    try:
        sc.setJobGroup(resume, "resume of a committed table")
        again = lineage.write_cell_partitioned(pts, path, level_delta=4, run_id="w2")
        sc.setJobGroup(bare, "one per-key count")
        pts.groupBy(F.shiftright("zkey", 8).cast("string")).count().collect()
    finally:
        sc._jsc.clearJobGroup()
    assert again["rows"] == 0 and again["partitions"] == 0
    tracker = sc.statusTracker()
    assert len(tracker.getJobIdsForGroup(resume)) == len(tracker.getJobIdsForGroup(bare))
    assert files() == before
    assert lineage.read_lineage(spark, path).count() == n_lineage


def test_all_sidecar_writers_reject_remote_schemes(spark):
    """VERDICT r04 #9: every writer that pairs a Spark write with an
    os/open() sidecar must fail loudly on non-local URIs — otherwise
    the data lands on the remote FS while the manifest/centroids land
    in a literal 'hdfs:' local directory."""
    from geotools_spark.operators.similarity import build_ivf_index

    df = spark.range(4).selectExpr(
        "id as vec_id", "array(cast(id as float), 1.0f) as embedding",
        "cast(id % 2 as int) as cell",
    )
    for uri in ("hdfs://nn/t", "s3a://bucket/t", "abfss://c@a/t"):
        with pytest.raises(ValueError, match="local-filesystem-only"):
            lineage.checkpointed_write(df, uri, part_col="cell", run_id="r")
        with pytest.raises(ValueError, match="local-filesystem-only"):
            build_ivf_index(df.drop("cell"), uri, nlist=2)
    # file:// is local: accepted and stripped
    assert lineage.require_local_path("file:///tmp/t", "x") == "/tmp/t"

"""Resume-from-checkpoint + lineage invariance (north-rule requirements)."""

import os
import shutil

import pytest
from pyspark.sql import functions as F

from grandine_spark.plans.checkpoint import Warehouse, anti_join_completed
from grandine_spark.plans.pipeline import run_pipeline
from grandine_spark.sources import synth


def _tiles_map(df):
    return {
        (r.tile_z, r.tile_x, r.tile_y): bytes(r.tile) for r in df.collect()
    }


def test_checkpoint_skips_recompute(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh"))
    src = spark.range(100).withColumn("v", F.col("id") * 2)
    out1 = wh.checkpoint(lambda: src, "s1", key_col="id")
    assert out1.count() == 100
    # "corrupt" the upstream: if stage re-ran, it would see 1 row
    calls = []

    def corrupt():
        calls.append(1)
        return spark.range(1).withColumn("v", F.lit(0))

    out2 = wh.checkpoint(corrupt, "s1", key_col="id")
    assert out2.count() == 100  # read back, not recomputed
    assert calls == []  # the reused stage never even built its plan


def _stage_sources(spark):
    return {
        "plain": (spark.range(300).withColumn("v", F.col("id") * 7), "id"),
        "null_keys": (
            spark.range(120).select(
                F.when(F.col("id") % 3 == 0, F.lit(None))
                .otherwise(F.concat(F.lit("u"), F.col("id").cast("string")))
                .alias("url"),
                F.col("id").alias("v"),
            ),
            "url",
        ),
        "empty": (spark.range(10).filter(F.col("id") < 0), "id"),
    }


@pytest.mark.parametrize("kind", ["plain", "null_keys", "empty"])
def test_sidecar_matches_spark_lineage(spark, tmp_path, kind):
    """The driver-written sidecar holds exactly the rows Spark's own
    lineage aggregation gives over the stage table on disk, with the
    Spark-visible column types of a Spark-written sidecar."""
    src, key = _stage_sources(spark)[kind]
    wh = Warehouse(spark, str(tmp_path / "wh"))
    wh.checkpoint(lambda: src, kind, key_col=key)

    stored = wh.lineage(kind)
    assert stored.columns == [
        "bucket", "key_min", "key_max", "row_count", "digest", "stage"
    ]
    assert [t for _, t in stored.dtypes] == [
        "bigint", "string", "string", "bigint", "bigint", "string"
    ]
    want = wh._lineage(spark.read.parquet(wh.table_path(kind)), kind, key)
    assert sorted(map(tuple, stored.collect())) == sorted(
        map(tuple, want.collect())
    )
    assert wh.verify(src, kind, key_col=key)


def test_stage_commit_leaves_no_temp_files(spark, tmp_path):
    root = tmp_path / "wh"
    wh = Warehouse(spark, str(root))
    wh.checkpoint(lambda: spark.range(40), "s1", key_col="id")
    assert sorted(os.listdir(root)) == ["s1", "s1__lineage"]
    leftovers = [
        f for _, dirs, files in os.walk(root) for f in dirs + files if "tmp" in f
    ]
    assert leftovers == []
    assert wh.is_done("s1")


def test_missing_marker_recomputes_despite_sidecar(spark, tmp_path):
    """The marker is the commit point: a stage killed after its sidecar
    landed but before ``_STAGE_DONE`` re-runs, and its sidecar is
    replaced."""
    wh = Warehouse(spark, str(tmp_path / "wh"))
    wh.checkpoint(lambda: spark.range(100), "s1", key_col="id")
    os.remove(os.path.join(wh.table_path("s1"), "_STAGE_DONE"))
    assert os.path.isdir(wh.lineage_path("s1"))

    calls = []

    def build():
        calls.append(1)
        return spark.range(3)

    assert wh.checkpoint(build, "s1", key_col="id").count() == 3
    assert calls == [1]
    assert wh.lineage("s1").agg(F.sum("row_count")).first()[0] == 3
    assert wh.is_done("s1")


def test_resumed_pipeline_does_not_rebuild_done_stages(spark, tmp_path, monkeypatch):
    """With ``geocoded`` and ``join_rows`` done, a resumed run builds
    neither: their operators are never called."""
    import grandine_spark.plans.pipeline as pipeline

    pages = synth.pages(spark, 300)
    feats = synth.features(spark, n_polygons=20, n_roads=5, n_pois=5)
    root = str(tmp_path / "wh")
    first = run_pipeline(spark, pages, feats, root, zooms=[2])
    want = sorted(map(tuple, first["join_rows"].collect()))
    want_tiles = _tiles_map(first["tiles"])
    for stage in ("assignments", "cellcounts", "tiles"):
        shutil.rmtree(os.path.join(root, stage))

    def boom(*a, **kw):
        raise AssertionError("a done stage was rebuilt")

    monkeypatch.setattr(pipeline, "spatial_join", boom)
    monkeypatch.setattr(pipeline, "geocode_pages", boom)
    resumed = run_pipeline(spark, pages, feats, root, zooms=[2])
    assert sorted(map(tuple, resumed["join_rows"].collect())) == want
    assert _tiles_map(resumed["tiles"]) == want_tiles


def test_lineage_partitioning_invariant(spark, tmp_path):
    pages = synth.pages(spark, 500)
    wh1 = Warehouse(spark, str(tmp_path / "a"))
    wh8 = Warehouse(spark, str(tmp_path / "b"))
    wh1.checkpoint(lambda: pages.coalesce(1), "pg", key_col="url")
    wh8.checkpoint(lambda: pages.repartition(8), "pg", key_col="url")
    l1 = {(r.bucket): (r.row_count, r.digest) for r in wh1.lineage("pg").collect()}
    l8 = {(r.bucket): (r.row_count, r.digest) for r in wh8.lineage("pg").collect()}
    assert l1 == l8


def test_pipeline_resume_byte_identical(spark, tmp_path):
    pages = synth.pages(spark, 600)
    feats = synth.features(spark, n_polygons=30, n_roads=10, n_pois=10)

    # full run
    full_root = str(tmp_path / "full")
    full = run_pipeline(spark, pages, feats, full_root, zooms=[2, 7])
    full_tiles = _tiles_map(full["tiles"])
    full_join = sorted(map(tuple, full["join_rows"].collect()))

    # interrupted run: run, then delete markers of the LAST two stages to
    # simulate a kill mid-pipeline
    resume_root = str(tmp_path / "resume")
    run_pipeline(spark, pages, feats, resume_root, zooms=[2, 7])
    for stage in ("cellcounts", "tiles"):
        shutil.rmtree(os.path.join(resume_root, stage))

    resumed = run_pipeline(spark, pages, feats, resume_root, zooms=[2, 7])
    assert _tiles_map(resumed["tiles"]) == full_tiles
    assert sorted(map(tuple, resumed["join_rows"].collect())) == full_join

    # lineage verifies across the two runs
    wh = resumed["warehouse"]
    assert wh.verify(resumed["join_rows"], "join_rows", "url")


def test_verify_tolerates_legacy_sidecar(spark, tmp_path):
    """Sidecars written before lineage rows carried key_min/key_max must
    still verify (fallback to row_count+digest), not raise on the missing
    columns."""
    wh = Warehouse(spark, str(tmp_path / "wh"))
    src = spark.range(200).withColumn("v", F.col("id") * 3)
    wh.checkpoint(lambda: src, "s1", key_col="id")
    # rewrite the sidecar in the legacy (no key-range) format
    legacy = wh.lineage("s1").drop("key_min", "key_max")
    legacy.write.mode("overwrite").parquet(str(tmp_path / "legacy"))
    spark.read.parquet(str(tmp_path / "legacy")).write.mode("overwrite").parquet(
        wh.lineage_path("s1")
    )
    assert wh.verify(src, "s1", key_col="id")
    assert not wh.verify(src.limit(10), "s1", key_col="id")


def test_anti_join_completed(spark):
    work = spark.createDataFrame(
        [(z, x) for z in (1, 2) for x in range(5)], "z int, x int"
    )
    done = spark.createDataFrame([(1, 0), (1, 1), (2, 4)], "z int, x int")
    rest = anti_join_completed(work, done, ["z", "x"])
    assert rest.count() == 7


def test_clean_text_stage_filters_and_checkpoints(spark, tmp_path):
    """The optional hygiene stage drops exact dupes (keep min url) and
    repetitive pages, checkpoints as its own resumable stage, and the
    rest of the pipeline consumes the cleaned table."""
    from grandine_spark.plans.pipeline import clean_pages

    pages = synth.pages(spark, 2000)
    dupe = pages.limit(50).withColumn("url", F.concat(F.lit("zz-dup-"), F.col("url")))
    spammy = spark.createDataFrame(
        [("aaa-spam", "spam spam spam spam spam spam spam spam spam near 48.85, 2.35",)],
        "url string, text string",
    ).select("url", "text", *[F.lit(None).cast(pages.schema[c].dataType).alias(c)
                              for c in pages.columns if c not in ("url", "text")])
    dirty = pages.unionByName(dupe.select(pages.columns)).unionByName(
        spammy.select(pages.columns)
    )

    cleaned = clean_pages(dirty)
    urls = {r.url for r in cleaned.select("url").collect()}
    # originals kept (min url of each dup pair: 'a...' < 'zz-dup-a...')
    assert not any(u.startswith("zz-dup-") for u in urls)
    assert "aaa-spam" not in urls  # repetition filter
    # only the injected rows are dropped (synth pages are unique, non-spammy)
    assert cleaned.count() == pages.count()
    # through the pipeline with checkpointing: stage dir exists + resume
    root = str(tmp_path / "wh")
    out = run_pipeline(spark, dirty, synth.features(spark), root,
                       zooms=[2], clean_text=True)
    assert out["geocoded"].count() > 0
    assert os.path.isdir(os.path.join(root, "clean_pages"))
    again = run_pipeline(spark, dirty, synth.features(spark), root,
                         zooms=[2], clean_text=True)
    assert _tiles_map(again["tiles"]) == _tiles_map(out["tiles"])

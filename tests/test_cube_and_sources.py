"""SURVEY §2 A11/A12 + H: Datacube facade, cube builder, sources."""

import os

from pyspark.sql import functions as F

from icecube_spark import catalog
from icecube_spark.config import CubeConfig
from icecube_spark.cube import Datacube, build_cube
from icecube_spark.sources import readers
from tests.conftest import run_in_job_group


def _events_cube(spark, sf_dir, cfg=None):
    ev = catalog.load(spark, sf_dir, "events")
    cfg = cfg or CubeConfig.from_dict(
        {"start_date": 20240101, "end_date": 20240131}
    )
    return build_cube(
        ev, cfg, key_col="user_id", ts_col="ts", angle_col="value",
        band_cols=["event_type", "value"],
    )


def test_cube_accessors(spark, sf_dir):
    cube = _events_cube(spark, sf_dir)
    assert cube.get_data_variables() == ["event_type", "value"]
    dims = cube.get_dimensions()
    assert dims["user_id"] > 0 and dims["ts"] > 0
    meta = cube.get_metadata()
    assert meta["n_layers"] > 0 and meta["start"] <= meta["end"]


def test_cube_visualize_svg(spark, sf_dir, tmp_path):
    """Reference sar_datacube_metadata.py:278 ships visualize as an
    empty placeholder; ours renders the acquisition timeline as a
    dependency-free SVG — well-formed XML, one dot per layer, one
    lane per stack key, written to disk when a path is given."""
    import xml.etree.ElementTree as ET

    cube = _events_cube(spark, sf_dir)
    out = str(tmp_path / "timeline.svg")
    svg = cube.visualize(path=out)
    assert open(out).read() == svg
    root = ET.fromstring(svg)
    ns = "{http://www.w3.org/2000/svg}"
    assert root.tag == f"{ns}svg"
    n_layers = (
        cube.df.select("user_id", "ts").distinct().count()
    )
    assert len(root.findall(f"{ns}circle")) == n_layers
    n_keys = cube.df.select("user_id").distinct().count()
    assert len(root.findall(f"{ns}line")) == n_keys
    # empty cube renders a placeholder, not a crash
    empty = Datacube(
        cube.df.where(F.lit(False)), "user_id", "ts",
        ["event_type", "value"],
    )
    assert "empty cube" in empty.visualize()


def test_cube_layer_lookup_prunes(spark, sf_dir):
    cube = _events_cube(spark, sf_dir)
    row = cube.df.limit(1).collect()[0]
    layer = cube.get_layer(row.user_id, row.ts)
    assert layer.count() >= 1
    plan = layer._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "user_id" in plan.split("PushedFilters")[1][:200]


def test_build_cube_applies_config(spark, sf_dir):
    cfg = CubeConfig.from_dict(
        {
            "start_date": 20240105,
            "end_date": 20240110,
            "min_incidence_angle": 10,
            "max_incidence_angle": 50,
            "temporal_overlap": False,
        }
    )
    cube = _events_cube(spark, sf_dir, cfg)
    pdf = cube.df.toPandas()
    assert pdf["value"].between(10, 50).all()
    assert pdf["ts"].min().date().isoformat() >= "2024-01-05"
    # temporal_overlap=False: one layer per (user, date)
    days = pdf["ts"].dt.date
    assert not pdf.assign(d=days).duplicated(["user_id", "d"]).any()


def test_cube_merge_left_wins(spark, sf_dir):
    ev = catalog.load(spark, sf_dir, "events")
    c1 = Datacube(
        ev.where("value >= 40").withColumn("tag", F.lit("left")),
        "event_id", "ts", ["value"],
    )
    c2 = Datacube(
        ev.where("value < 60").withColumn("tag", F.lit("right")),
        "event_id", "ts", ["value"],
    )
    merged = c1.merge(c2).df.toPandas()
    overlap = merged[(merged.value >= 40) & (merged.value < 60)]
    assert (overlap.tag == "left").all()
    assert not merged.duplicated(["event_id", "ts"]).any()


def test_cube_to_parquet_partitions(spark, sf_dir, tmp_path):
    cube = _events_cube(spark, sf_dir)
    out = str(tmp_path / "cube")
    cube.to_parquet(out)
    parts = [p for p in os.listdir(out) if p.startswith("__part=")]
    assert parts, "expected time-bucket partition dirs"
    back = spark.read.parquet(out)
    assert back.count() == cube.df.count()


def test_binary_file_source(spark, sf_dir):
    df = readers.read_binary_files(spark, sf_dir, glob="events.parquet")
    row = df.select("path", "length", "content").collect()[0]
    assert row.length > 0 and row.content[:4] == b"PAR1"


def test_csv_json_roundtrip(spark, sf_dir, tmp_path):
    src = catalog.load(spark, sf_dir, "region")
    csv_path, json_path = str(tmp_path / "r.csv"), str(tmp_path / "r.json")
    src.write.option("header", "true").csv(csv_path)
    src.write.json(json_path)
    csv_back = readers.read_csv(spark, csv_path)
    json_back = readers.read_json(
        spark, json_path, "r_regionkey int, r_name string"
    )
    assert csv_back.count() == src.count() == json_back.count()
    assert set(csv_back.columns) == set(src.columns)


def test_compact_parquet_reduces_files(spark, sf_dir, tmp_path):
    """H: compaction rewrites a fragmented dataset into size-targeted
    files."""
    frag = str(tmp_path / "frag")
    out = str(tmp_path / "compact")
    ev = catalog.load(spark, sf_dir, "events")
    ev.repartition(64).write.parquet(frag)  # fragment: 64 tiny files
    n = readers.compact_parquet(spark, frag, out, target_file_mb=512)
    assert n == 1  # tiny dataset -> one file
    files = [f for f in os.listdir(out) if f.endswith(".parquet")]
    assert len(files) == 1
    assert spark.read.parquet(out).count() == ev.count()


def test_upsert_snapshot_keeps_latest(spark, sf_dir):
    """H: keep-latest merge prefers higher version, then update side."""
    cur = spark.createDataFrame(
        [(1, 1, "a"), (2, 1, "b"), (3, 2, "c")], "k int, v int, val string"
    )
    upd = spark.createDataFrame(
        [(2, 2, "b2"), (3, 2, "c2"), (4, 1, "d")], "k int, v int, val string"
    )
    got = {
        r.k: r.val
        for r in readers.upsert_snapshot(cur, upd, ["k"], "v").collect()
    }
    # k=2: higher version wins; k=3: equal version -> update side wins
    assert got == {1: "a", 2: "b2", 3: "c2", 4: "d"}


def test_orc_round_trip(spark, sf_dir, tmp_path):
    """H: ORC sink + source round-trips the events table exactly."""
    from icecube_spark import catalog

    ev = catalog.load(spark, sf_dir, "events")
    path = str(tmp_path / "events_orc")
    readers.write_orc(ev, path)
    back = readers.read_orc(spark, path)
    assert back.schema == ev.schema
    assert back.count() == ev.count()
    got = back.agg(F.sum(F.col("value").cast("decimal(18,8)"))).collect()[0][0]
    want = ev.agg(F.sum(F.col("value").cast("decimal(18,8)"))).collect()[0][0]
    assert got == want


def test_orc_scan_prunes_and_pushes(spark, sf_dir, tmp_path):
    """H: the ORC scan shows pushed filters + pruned read schema."""
    from icecube_spark import catalog

    ev = catalog.load(spark, sf_dir, "events")
    path = str(tmp_path / "events_orc2")
    readers.write_orc(ev, path)
    q = readers.read_orc(spark, path).where(F.col("user_id") == 7).select("event_id")
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan and "user_id" in plan


def test_labels_json_reads_reference_fixture(spark, labels_json):
    """A18: the labels source parses the reference's own vector-labels
    fixture (create_json_labels.py schema; a synthesized document of
    that schema where the fixture is absent) — object counts per
    product match the raw document."""
    import json

    from icecube_spark.sources import labels as L

    flat = L.read_labels_json(spark, labels_json).toPandas()
    raw = json.load(open(labels_json))
    want = {r["product_file"]: len(r["labels"]["objects"]) for r in raw}
    got = flat.groupby("product_file").size().to_dict()
    assert got == want
    assert (flat["xmax"] >= flat["xmin"]).all()
    assert flat["obj_class"].str.startswith("rand-").all()


def test_labels_json_round_trip(spark, tmp_path, labels_json):
    """A18: flat -> nested JSON -> flat is lossless."""
    from icecube_spark.sources import labels as L

    flat = L.read_labels_json(spark, labels_json)
    out = str(tmp_path / "labels_out")
    L.write_labels_json(flat, out)
    back = L.read_labels_json(spark, out)
    a = flat.toPandas().sort_values(list(flat.columns)).reset_index(drop=True)
    b = back.toPandas().sort_values(list(flat.columns)).reset_index(drop=True)
    assert a.equals(b)


def test_labels_json_empty_objects_round_trip(spark, tmp_path):
    """A18: a labeled product with ``"objects": []`` reads as one
    null-object row and rebuilds, after a write and a read back, as
    ``"objects": []``, not as one invented empty object."""
    import json

    from icecube_spark.sources import labels as L

    doc = [
        {"product_file": "a.tif", "labels": {"objects": [
            {"class": "rand-1",
             "bbox": {"xmin": 1, "ymin": 2, "xmax": 3, "ymax": 4}},
        ]}},
        {"product_file": "empty.tif", "labels": {"objects": []}},
    ]
    src = tmp_path / "labels.json"
    src.write_text(json.dumps(doc, indent=4))
    out = str(tmp_path / "labels_out")
    L.write_labels_json(L.read_labels_json(spark, str(src)), out)
    back = L.build_labels_df(L.read_labels_json(spark, out))
    got = {
        r.product_file: [o.asDict(recursive=True) for o in r.labels.objects]
        for r in back.collect()
    }
    assert got == {
        "a.tif": [{"class": "rand-1",
                   "bbox": {"xmin": 1, "ymin": 2, "xmax": 3, "ymax": 4}}],
        "empty.tif": [],
    }


def test_prune_metadata_rows_for_labels(spark, labels_json):
    """A18: prune_metadata_rows_for_labels mirrors the reference
    (labels_datacube.py:160) — null-path gap rows stay, labeled rows
    stay (matched on basename vs product_file), everything else is
    dropped; and the labeled branch is a broadcast semi join."""
    import json

    from icecube_spark.sources import labels as L

    raw = json.load(open(labels_json))
    labeled_files = [r["product_file"] for r in raw]
    assert len(labeled_files) >= 2
    meta = spark.createDataFrame(
        [
            (f"/data/{labeled_files[0]}", "a"),
            (f"/data/sub/{labeled_files[1]}", "b"),
            ("/data/NOT_LABELED.tif", "c"),
            (None, "gap1"),
            (None, "gap2"),
        ],
        "product_fpath string, tag string",
    )
    flat = L.read_labels_json(spark, labels_json)
    out = L.prune_metadata_rows_for_labels(meta, flat)
    got = sorted(r.tag for r in out.collect())
    assert got == ["a", "b", "gap1", "gap2"]
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan


def test_crawler_export_helpers(spark, tmp_path):
    """H: the reference's named crawl-export helpers
    (metadata_crawler.py:232-250) — one metadata.csv, one
    comma-joined image_ids.txt; the Excel writer either produces
    metadata.xlsx or refuses with the openpyxl guard."""
    import os

    from icecube_spark.sources.raster import (
        save_image_ids_as_txt,
        save_metadata_table_as_csv,
        save_metadata_table_as_excel_table,
    )

    meta = spark.createDataFrame(
        [(1, "prod_a.tif", 42.0), (2, "prod_b.tif", 41.5)],
        "image_number int, product_file string, incidence_center double",
    )
    folder = str(tmp_path)
    save_metadata_table_as_csv(meta, folder)
    import pandas as pd

    back = pd.read_csv(os.path.join(folder, "metadata.csv"))
    assert list(back.columns) == [
        "image_number", "product_file", "incidence_center"
    ]
    assert len(back) == 2

    save_image_ids_as_txt(meta, folder)
    txt = open(os.path.join(folder, "image_ids.txt")).read()
    # exact content: the writer sorts by id, so the file is stable
    assert txt == "1,2"

    try:
        import openpyxl  # noqa: F401

        have_openpyxl = True
    except ImportError:
        have_openpyxl = False
    if have_openpyxl:
        save_metadata_table_as_excel_table(meta, folder)
        assert os.path.exists(os.path.join(folder, "metadata.xlsx"))
    else:
        import pytest as _pytest

        with _pytest.raises(NotImplementedError):
            save_metadata_table_as_excel_table(meta, folder)


def test_partitioned_write_prunes_partitions(spark, sf_dir, tmp_path):
    """H — date-partitioned parquet layout: a month-filtered read must
    touch only that month's partition directories (PartitionFilters in
    the scan, not a post-scan Filter) — THE layout decision that makes
    a 100 TB event store queryable."""
    from pyspark.sql import functions as F2

    from icecube_spark import catalog

    ev = catalog.load(spark, sf_dir, "events").withColumn(
        "month", F2.date_format("ts", "yyyy-MM")
    )
    path = str(tmp_path / "events_by_month")
    ev.write.partitionBy("month").parquet(path)

    m0 = ev.agg(F2.min("month")).collect()[0][0]
    back = spark.read.parquet(path).where(F2.col("month") == m0)
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "month" in plan.split("PartitionFilters")[1][:200]
    got = back.count()
    want = ev.where(F2.col("month") == m0).count()
    assert got == want and got > 0


def test_schema_evolution_merge(spark, sf_dir, tmp_path):
    """H: schema-evolution-safe reads — a corpus written over months
    gains columns; mergeSchema must union the schemas and null-fill
    the old files (the alternative, silent column loss, corrupts
    training data downstream)."""
    from pyspark.sql import functions as F2

    from icecube_spark import catalog

    docs = catalog.load(spark, sf_dir, "documents")
    p = str(tmp_path / "evolving")
    docs.select("doc_id", "text").write.parquet(p + "/batch=1")
    docs.select(
        "doc_id", "text", F2.lit("v2").alias("pipeline_version")
    ).write.parquet(p + "/batch=2")

    merged = spark.read.option("mergeSchema", "true").parquet(p)
    assert set(merged.columns) >= {"doc_id", "text", "pipeline_version"}
    n = docs.count()
    assert merged.count() == 2 * n
    # old files surface as nulls, new files keep their value
    assert merged.where(F2.col("pipeline_version").isNull()).count() == n
    assert merged.where(F2.col("pipeline_version") == "v2").count() == n


def test_corrupt_json_records_are_quarantined(spark, tmp_path):
    """H: PERMISSIVE JSON ingestion — malformed rows land in
    _corrupt_record instead of failing the job (at 100 TB some input
    is ALWAYS malformed; a fail-fast reader cannot finish)."""
    p = tmp_path / "raw.json"
    p.write_text(
        '{"id": 1, "v": 10}\n'
        'this is not json\n'
        '{"id": 2, "v": 20}\n'
        '{"id": 3, "v": broken\n'
    )
    from pyspark.sql import functions as F2

    df = (
        spark.read.schema("id BIGINT, v BIGINT, _corrupt_record STRING")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(str(p))
        .cache()
    )
    good = df.where(F2.col("_corrupt_record").isNull())
    bad = df.where(F2.col("_corrupt_record").isNotNull())
    assert good.count() == 2
    assert bad.count() == 2
    assert {r.id for r in good.collect()} == {1, 2}
    df.unpersist()


def test_slc_cube_dedups_same_date_and_grids_gaps(spark, tmp_path):
    """SLC and GRD share one filter-and-grid step: on a synthesized
    3-product SLC stack where two products share a date, temporal
    dedup keeps the later acquisition, and temporal_resolution lays
    a daily slot grid whose empty slots are null-product gap rows."""
    import numpy as np

    from icecube_spark.cube import create_cube_from_slc
    from icecube_spark.sources.hdf5_write import write_h5

    rng = np.random.default_rng(7)
    products = [  # (name, acquisition_end_utc, incidence_center)
        ("slc_a.h5", "2021-03-01T08:00:00.000000", 25.0),
        ("slc_b.h5", "2021-03-01T20:00:00.000000", 30.0),
        ("slc_c.h5", "2021-03-04T10:30:00.000000", 28.0),
    ]
    s_i = {}
    for name, end_utc, angle in products:
        s_i[name] = rng.normal(0, 300, (4, 4)).astype("i2")
        (tmp_path / name).write_bytes(
            write_h5(
                {
                    "s_i": s_i[name],
                    "s_q": rng.normal(0, 300, (4, 4)).astype("i2"),
                    "product_file": name,
                    "acquisition_end_utc": end_utc,
                    "incidence_center": np.array([angle], dtype="f8"),
                    "orbit_direction": "ASCENDING",
                    "number_of_azimuth_samples": np.array([4], dtype="i4"),
                    "number_of_range_samples": np.array([4], dtype="i4"),
                }
            )
        )
    cfg = CubeConfig.from_dict(
        {
            "start_date": 20210301,
            "end_date": 20210306,
            "temporal_resolution": 1,
            "temporal_overlap": False,
        }
    )
    dc = create_cube_from_slc(spark, str(tmp_path), cfg)
    assert dc.ts_col == "slot_date" and dc.band_cols == ["Real", "Complex"]
    rows = dc.df.orderBy("slot_date").collect()
    assert [str(r.slot_date) for r in rows] == [
        f"2021-03-0{d}" for d in range(1, 7)
    ]
    assert [r.product_file for r in rows] == [
        "slc_b.h5", None, None, "slc_c.h5", None, None,
    ]
    assert rows[0].Real == list(s_i["slc_b.h5"].astype("f8").ravel())
    assert all(r.Real is None and r.Complex is None for r in rows if r.product_file is None)


def test_catalog_load_reuses_inferred_schema(spark, sf_dir):
    """A table's first load infers its schema (one Spark job); every
    later load hands that schema to the reader and runs no job, with
    the same schema and rows (events' timestamp column included)."""
    for name in ("documents", "events"):
        first = catalog.load(spark, sf_dir, name)
        again = []
        jobs, _ = run_in_job_group(
            spark,
            lambda: again.append(catalog.load(spark, sf_dir, name)),
            f"reload-{name}",
        )
        assert jobs == 0
        assert again[0].schema == first.schema
        assert again[0].count() == first.count()


def test_catalog_load_sees_rewritten_file(spark, tmp_path):
    """A table rewritten in place (another size and mtime) is read
    afresh: the next load has the new columns and rows, not the
    schema kept from the first load."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = tmp_path / "documents.parquet"
    pq.write_table(pa.table({"doc_id": [1, 2, 3]}), path)
    assert catalog.load(spark, str(tmp_path), "documents").count() == 3
    pq.write_table(
        pa.table({"doc_id": [7, 8], "text": ["a b", "c"]}), path
    )
    df = catalog.load(spark, str(tmp_path), "documents")
    assert df.columns == ["doc_id", "text"]
    assert sorted(tuple(r) for r in df.collect()) == [(7, "a b"), (8, "c")]

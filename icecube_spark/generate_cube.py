"""CLI one-shot cube build — reference icecube/bin/generate_cube.py
:187-229 (``process_args``/``cli``) parity: raster directory + config
JSON -> Datacube, optionally merged with a labels JSON and saved as a
netCDF file.

Usage::

    python -m icecube_spark.generate_cube RASTER_DIR \
        [--config path/to/config.json] [--labels-fpath labels.json] \
        [--cube-save out.nc] [--format netCDF4] [--height H] [--width W]

Product family is sniffed from the directory contents exactly like the
reference (all .tif/.tiff -> GRD, all .h5 -> SLC, anything mixed is an
error). The build itself is the distributed create_cube_from_rasters /
create_cube_from_slc plan, persisted for the call. Two collects read
that one decode of each product, and on a stack with no grid or
labels join they are the call's only Spark jobs: one metadata collect
(key, time, height and width per layer) that gives the printed
dimensions and the export's layer shape and size guard, and, with
--cube-save, one unordered collect of key, time and band that the
driver sorts into layer order. Only the optional .nc export
materializes pixels on the driver. Its layer shape, band choice and
size guard live in sources/netcdf3.py (cube_to_file).
"""

from __future__ import annotations

import argparse
import os
from contextlib import contextmanager


def process_args(argv: list[str] | None = None) -> argparse.Namespace:
    parser = argparse.ArgumentParser(
        description="CLI support for generating icecube_spark datacubes"
    )
    parser.add_argument(
        "raster_dir",
        help="Path/to/directory where rasters are stored",
        type=str,
    )
    parser.add_argument(
        "--config",
        help="path/to/cube config JSON (default: unconstrained config)",
        type=str,
        default=None,
    )
    parser.add_argument(
        "--labels-fpath",
        help=(
            "path/to/labels.json (icecube JSON structure) to merge into"
            " the datacube (optional)"
        ),
        type=str,
        default=None,
    )
    parser.add_argument(
        "--cube-save",
        help="path/to/cube.nc where the datacube shall be saved (optional)",
        default=None,
        type=str,
    )
    parser.add_argument(
        "--format",
        help="netCDF flavor for --cube-save (default netCDF4; degrades"
        " to classic netCDF-3 without the netCDF4 library)",
        default="netCDF4",
        type=str,
    )
    parser.add_argument(
        "--height", type=int, default=None,
        help="layer height for --cube-save (default: inferred)",
    )
    parser.add_argument(
        "--width", type=int, default=None,
        help="layer width for --cube-save (default: inferred)",
    )
    return parser.parse_args(argv)


@contextmanager
def _decoded_once(dc):
    """Persist the cube's frame for the block and unpersist it on the
    way out, raise or not: the metadata collect (dimensions, layer
    count, largest height and width) and the export's pixel collect
    of key, time and band then read one decode of the products
    instead of one each."""
    dc.df.persist()
    try:
        yield
    finally:
        dc.df.unpersist()


def cli(argv: list[str] | None = None, spark=None) -> "object":
    """Run the one-shot build; returns the Datacube (the subprocess
    entry ignores it, tests inspect it). Pass an existing SparkSession
    to reuse one; otherwise a local session is created and stopped."""
    from icecube_spark.cube import (
        Datacube,
        create_cube_from_rasters,
        create_cube_from_slc,
    )
    from icecube_spark.sources.netcdf3 import cube_to_file, summarize_layers

    args = process_args(argv)
    own_session = spark is None
    if own_session:
        from icecube_spark.session import get_spark

        spark = get_spark("icecube-generate-cube")
    try:
        names = os.listdir(args.raster_dir)
        if names and all(n.lower().endswith((".tif", ".tiff")) for n in names):
            dc = create_cube_from_rasters(spark, args.raster_dir, args.config)
        elif names and all(n.lower().endswith(".h5") for n in names):
            dc = create_cube_from_slc(spark, args.raster_dir, args.config)
        else:
            raise SystemExit(
                "Cannot proceed due to inconsistent extension naming"
            )

        if args.labels_fpath:
            from icecube_spark.sources.labels import (
                build_labels_df,
                read_labels_json,
            )

            labels = build_labels_df(
                read_labels_json(spark, args.labels_fpath)
            ).withColumnRenamed("product_file", dc.key_col)
            dc = Datacube(
                dc.df.join(labels, dc.key_col, "left"),
                dc.key_col,
                dc.ts_col,
                dc.band_cols,
            )

        with _decoded_once(dc):
            summary = summarize_layers(dc)
            print(f"Generated cube dimensions are: {summary.dims}")
            if args.cube_save is not None:
                print(
                    "Writing icecube to disk. This may take some time,"
                    " please standby ..."
                )
                fmt = cube_to_file(
                    dc, args.cube_save, args.height, args.width, args.format,
                    summary=summary,
                )
                print(f"Wrote {args.cube_save} ({fmt})")
        return dc
    finally:
        if own_session:
            spark.stop()


_REF_RESOURCES = "/root/reference/tests/resources"


def sample_labels_workflow(
    resource_dir: str = _REF_RESOURCES,
    cube_save_fpath: str = "/tmp/test_cube_raster_labels.nc",
    spark=None,
):
    """Reference sample_labels_workflow (generate_cube.py:121-143):
    build a GRD cube from the grd_stack fixtures, merge the vector
    labels JSON, save as netCDF. Returns the Datacube."""
    grd_raster_dir = os.path.join(resource_dir, "grd_stack")
    vector_labels_fpath = os.path.join(
        resource_dir, "labels/dummy_vector_labels.json"
    )
    cube_config_fpath = os.path.join(
        resource_dir, "json_config/config_use_case5.json"
    )
    return cli(
        [
            grd_raster_dir,
            "--config", cube_config_fpath,
            "--labels-fpath", vector_labels_fpath,
            "--cube-save", cube_save_fpath,
        ],
        spark=spark,
    )


def sample_raster_workflow(
    resource_dir: str = _REF_RESOURCES,
    save_path: str = "/tmp/test_slc_stack1.nc",
    spark=None,
):
    """Reference sample_raster_workflow (generate_cube.py:146-152):
    build an SLC cube from the slc_stack fixtures and save it as
    netCDF. Returns the Datacube."""
    raster_dir = os.path.join(resource_dir, "slc_stack")
    return cli([raster_dir, "--cube-save", save_path], spark=spark)


def sample_list_workflow(
    resource_dir: str = _REF_RESOURCES,
    save_path: str = "/tmp/test_stack1.nc",
    spark=None,
):
    """Reference sample_list_workflow (generate_cube.py:155-184):
    build a GRD cube from an EXPLICIT two-raster list
    (create_cube_from_list) and save it as netCDF. Returns the
    Datacube."""
    from icecube_spark.cube import create_cube_from_list
    from icecube_spark.sources.netcdf3 import cube_to_file

    grd = os.path.join(resource_dir, "grd_stack")
    names = sorted(
        n for n in os.listdir(grd) if n.lower().endswith((".tif", ".tiff"))
    )[:2]
    list_path = [os.path.join(grd, n) for n in names]
    own_session = spark is None
    if own_session:
        from icecube_spark.session import get_spark

        spark = get_spark("icecube-sample-list-workflow")
    try:
        dc = create_cube_from_list(spark, list_path, None)
        with _decoded_once(dc):
            cube_to_file(dc, save_path)
        return dc
    finally:
        if own_session:
            spark.stop()


if __name__ == "__main__":
    cli()

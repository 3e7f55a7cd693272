"""Labels JSON source/builder (reference parity, SURVEY §2 A18).

The reference builds and consumes a labels JSON of the shape
(labels_cube/create_json_labels.py:33-105, tests/resources/labels/
dummy_vector_labels.json):

    [{"product_file": "...",
      "labels": {"objects": [
          {"class": "...", "bbox": {"xmin":..,"ymin":..,"xmax":..,"ymax":..}},
          ...]}}, ...]

Here the same document is a first-class Spark source and sink: read
parses straight into a flat (product_file, class, bbox) DataFrame via
an explicit schema + explode (schema-on-read, no inference pass);
build reassembles the exact nested shape with collect_list of named
structs — both directions are lazy DataFrame plans, so a 100-million
-label corpus round-trips without touching the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

BBOX = T.StructType(
    [
        T.StructField("xmin", T.LongType()),
        T.StructField("ymin", T.LongType()),
        T.StructField("xmax", T.LongType()),
        T.StructField("ymax", T.LongType()),
    ]
)

LABELS_SCHEMA = T.StructType(
    [
        T.StructField("product_file", T.StringType()),
        T.StructField(
            "labels",
            T.StructType(
                [
                    T.StructField(
                        "objects",
                        T.ArrayType(
                            T.StructType(
                                [
                                    T.StructField("class", T.StringType()),
                                    T.StructField("bbox", BBOX),
                                ]
                            )
                        ),
                    )
                ]
            ),
        ),
    ]
)


def read_labels_json(
    spark: SparkSession, path: str, multiline: bool | None = None
) -> DataFrame:
    """Parse a reference-schema labels JSON into one row per labeled
    object: (product_file, class, xmin, ymin, xmax, ymax).

    A product whose ``objects`` list is empty (or missing) yields one
    row with all object columns null (``explode_outer``): that row
    keeps the product in the labeled set that
    prune_metadata_rows_for_labels matches on, and build_labels_df
    drops it again, so the product rebuilds as ``"objects": []``.

    Layout auto-detection (overridable via `multiline`): the
    reference writes ONE pretty-printed array document (needs
    multiLine=true, which parses each file as a single document);
    this engine's own sink writes JSONL (one product per line, where
    multiLine=true would silently read only the first object per part
    file). The probe reads one byte of one file on the driver — not a
    data pass."""
    if multiline is None:
        import glob
        import os

        target = path
        if os.path.isdir(path):
            parts = sorted(
                f
                for f in glob.glob(os.path.join(path, "*"))
                if not os.path.basename(f).startswith(("_", "."))
            )
            target = parts[0] if parts else path
        with open(target, "rb") as fh:
            head = fh.read(64).lstrip()
        multiline = head.startswith(b"[")
    raw = (
        spark.read.schema(LABELS_SCHEMA)
        .option("multiLine", "true" if multiline else "false")
        .json(path)
    )
    obj = raw.select(
        "product_file",
        F.explode_outer("labels.objects").alias("o"),
    )
    return obj.select(
        "product_file",
        F.col("o.class").alias("obj_class"),
        F.col("o.bbox.xmin").alias("xmin"),
        F.col("o.bbox.ymin").alias("ymin"),
        F.col("o.bbox.xmax").alias("xmax"),
        F.col("o.bbox.ymax").alias("ymax"),
    )


def build_labels_df(flat: DataFrame) -> DataFrame:
    """Inverse of read_labels_json: reassemble the nested reference
    document (one row per product_file) from flat object rows. The
    object list is sorted (class, bbox) so the build is deterministic
    under any partitioning.

    A row with no class and no bbox field set is the placeholder
    read_labels_json emits for a product with no objects; it becomes a
    null object, which collect_list skips, so the product rebuilds as
    ``"objects": []``. A bbox whose four fields are all null is built
    as a null bbox, not as an empty struct."""
    has_bbox = F.coalesce("xmin", "ymin", "xmax", "ymax").isNotNull()
    bbox = F.when(has_bbox, F.struct("xmin", "ymin", "xmax", "ymax"))
    obj = F.when(
        F.col("obj_class").isNotNull() | has_bbox,
        F.struct(F.col("obj_class").alias("class"), bbox.alias("bbox")),
    )
    return (
        flat.select("product_file", obj.alias("o"))
        .groupBy("product_file")
        .agg(F.array_sort(F.collect_list("o")).alias("objects"))
        .select(
            "product_file",
            F.struct(F.col("objects")).alias("labels"),
        )
    )


def write_labels_json(flat: DataFrame, path: str) -> None:
    """Emit the nested document as JSON lines (one product per line) —
    the scale-friendly serialization of the reference's single-array
    file; read_labels_json accepts both (multiLine covers arrays,
    Spark's json reader covers JSONL natively)."""
    build_labels_df(flat).write.mode("overwrite").json(path)


def prune_metadata_rows_for_labels(
    metadata_df: DataFrame,
    labels_flat: DataFrame,
    path_col: str = "product_fpath",
) -> DataFrame:
    """Reference parity (labels_datacube.py:160
    prune_metadata_rows_for_labels): keep metadata rows whose
    ``path_col`` is NULL (the gap/dummy rows the time axis needs) or
    whose file basename appears among the labeled ``product_file``s;
    drop everything else.

    Spark shape: the labeled-products list is a model-sized dim, so
    the labeled branch is a BROADCAST left-semi join (no corpus
    shuffle) unioned with the null-path rows — the same two-predicate
    keep-set the reference loops over row-by-row.

    ROW ORDER differs from the reference: the union emits null-path
    rows before labeled rows, not the original interleaving
    (labels_datacube.py:177 preserves index order, which its
    downstream time-axis build relies on). DataFrame order is weak in
    Spark — callers that need the original interleaving should carry
    a monotonic row-index column in ``metadata_df`` and ``orderBy``
    it after pruning (the time-axis builder here sorts by
    acquisition_date, so it is order-insensitive)."""
    base = F.element_at(F.split(F.col(path_col), "/"), -1)
    labeled = labels_flat.select(
        F.col("product_file").alias("__pf")
    ).distinct()
    kept_labeled = (
        metadata_df.where(F.col(path_col).isNotNull())
        .withColumn("__base", base)
        .join(
            F.broadcast(labeled),
            F.col("__base") == F.col("__pf"),
            "left_semi",
        )
        .drop("__base")
    )
    return metadata_df.where(F.col(path_col).isNull()).unionByName(
        kept_labeled
    )

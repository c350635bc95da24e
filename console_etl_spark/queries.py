"""Navigation query tier: the reference's full query surface (Q1-Q5).

Each function is the DataFrame re-expression of one HTTP endpoint of the
reference, operating over any "metas" DataFrame with the envelope
(package, schema, name, blob). When the input comes from
``SnapshotStore.read`` the package/schema predicates prune Hive
partitions — the same I/O bound as the reference's directory reads
(main.go:143,185,226), but decided by Catalyst instead of hand-coded
path construction.

All listing results are sorted ascending like the reference
(sort.Strings — main.go:155,197,238).

``ConsoleEngine`` serves these endpoints from ``engine.SnapshotIndex``,
built once per snapshot; the functions here are its reference
implementation, and a parity test holds the two to the same answers.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Typed projection schema for olm.package blobs — the ``declcfg.Package``
# analog (main.go:305-313): nested nullable icon with binary payload.
PACKAGE_BLOB_SCHEMA = T.StructType(
    [
        T.StructField("schema", T.StringType()),
        T.StructField("name", T.StringType()),
        T.StructField("defaultChannel", T.StringType()),
        T.StructField(
            "icon",
            T.StructType(
                [
                    T.StructField("base64data", T.StringType()),
                    T.StructField("mediatype", T.StringType()),
                ]
            ),
        ),
    ]
)


def list_packages(metas: DataFrame) -> DataFrame:
    """Q1 (main.go:124-164): distinct level-1 partition keys, sorted.
    ``SELECT DISTINCT package FROM metas ORDER BY package``.

    Over the snapshot store this still scans the data files: Catalyst
    answers a partition-column-only query from partition metadata only
    with ``spark.sql.optimizer.metadataOnly``, which is off by default.
    """
    return metas.select("package").distinct().orderBy("package")


def list_schemas(metas: DataFrame, package: str | Column) -> DataFrame:
    """Q2 (main.go:166-205): distinct schemas under one package, sorted.
    Partition-pruned to the ``package=...`` subtree."""
    return (
        metas.filter(F.col("package") == package)
        .select("schema")
        .distinct()
        .orderBy("schema")
    )


def list_objects(metas: DataFrame, package: str | Column, schema: str | Column) -> DataFrame:
    """Q3 (main.go:207-247): names under (package, schema), sorted.

    The reference strips a ``.json`` suffix from directory entries
    (main.go:235); our ``name`` column is already clean, so the
    projection is direct.
    """
    return (
        metas.filter((F.col("package") == package) & (F.col("schema") == schema))
        .select("name")
        .orderBy("name")
    )


def get_object(
    metas: DataFrame, package: str | Column, schema: str | Column, name: str | Column
) -> DataFrame:
    """Q4 (main.go:249-270): the raw blob at a 3-part key. Partition
    pruning handles (package, schema); Parquet min/max row-group stats
    skip-scan ``name``."""
    return metas.filter(
        (F.col("package") == package)
        & (F.col("schema") == schema)
        & (F.col("name") == name)
    ).select("blob")


def package_doc(blob: str | Column = "blob") -> Column:
    """Typed decode of an ``olm.package`` blob (``from_json`` ≙
    json.Unmarshal at main.go:306); a malformed blob decodes to nulls."""
    return F.from_json(blob, PACKAGE_BLOB_SCHEMA)


def is_package_row(package: str | Column) -> Column:
    """The ``olm.package`` row of ``package``: the reference reads the
    blob whose name equals the package name (main.go:291-295)."""
    return (
        (F.col("package") == package)
        & (F.col("schema") == "olm.package")
        & (F.col("name") == package)
    )


def has_icon(doc: Column) -> Column:
    """A decoded package doc carries an icon (main.go:310-313)."""
    return doc["icon"].isNotNull() & doc["icon"]["base64data"].isNotNull()


def icon_fields(doc: Column) -> tuple[Column, Column]:
    """(icon bytes, media type) of a decoded package doc (main.go:314-315)."""
    return F.unbase64(doc["icon"]["base64data"]), doc["icon"]["mediatype"]


def get_package_icon(metas: DataFrame, package: str) -> DataFrame:
    """Q5 (main.go:272-320): typed decode + nested extraction + null test.

    Reads the package's own ``olm.package`` blob, decodes it, drops
    icon-less packages, and returns the decoded binary icon with its
    media type.
    """
    doc = F.col("doc")
    data, media = icon_fields(doc)
    return (
        metas.filter(is_package_row(package))
        .select(package_doc().alias("doc"))
        .where(has_icon(doc))
        .select(data.alias("icon_data"), media.alias("icon_mediatype"))
    )

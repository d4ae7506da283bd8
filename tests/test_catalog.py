"""Table catalog shim (storage/catalog.py): which catalog a session's
static conf selects."""

from ht_ner_spark.storage import catalog as cat


def test_iceberg_catalog_rule():
    # entries of the static SparkConf under spark.sql.catalog., prefix off
    assert cat._iceberg_catalog([]) is None
    assert cat._iceberg_catalog([
        ("spark_catalog", "org.apache.spark.sql.delta.catalog.DeltaCatalog"),
        ("local.type", "hadoop"),
    ]) is None
    assert cat._iceberg_catalog([
        ("local.type", "hadoop"),
        ("local", "org.apache.iceberg.spark.SparkCatalog"),
        ("local.warehouse", "/tmp/wh"),
    ]) == "local"
    assert cat._iceberg_catalog([
        ("lake.catalog-impl", "org.apache.Iceberg.rest.RESTCatalog"),
    ]) == "lake"


def test_session_without_iceberg_uses_parquet_shim(spark):
    assert cat._iceberg_enabled(spark) is None

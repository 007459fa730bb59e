"""K5 mirror-export tests: stringified full refresh of all tables after a
full sync; export errors must never fail the sync."""

from __future__ import annotations

import logging

from imperio_patitas_etl_spark.plans.pipeline import EtlPipeline
from imperio_patitas_etl_spark.sinks.warehouse import ParquetWarehouse


def _mini_pipeline(spark, tmp_path, exporter):
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    sources = {
        "clients": lambda: spark.createDataFrame(
            [(1, "Ana", None, None, None, None, None, 1700000000)],
            "id long, firstName string, lastName string, code string, email string, "
            "phone string, address string, creationDate long",
        ),
        "products": lambda: spark.createDataFrame(
            [],
            "product_order long, id long, name string, description string, "
            "creationDate long, variants struct<items: array<struct<id:long, "
            "code:string, barCode:string, state:int, track:boolean>>>",
        ),
        "price_list": lambda: spark.createDataFrame([], "variantid long, variantValue double"),
        "costs": lambda: spark.createDataFrame(
            [], "variant_id long, averageCost double, history array<struct<cost:double>>"
        ),
        "documents": lambda: spark.createDataFrame(
            [],
            "id long, emissionDate long, number long, client struct<id:long>, "
            "documentType struct<id:long>, netAmount double, taxAmount double, "
            "totalAmount double, details struct<items: array<struct<id:long, "
            "variant:struct<id:long>, quantity:double, netUnitValue:double, "
            "discount:double, netTotal:double>>>",
        ),
    }
    return EtlPipeline(spark=spark, warehouse=wh, sources=sources, exporter=exporter)


def test_mirror_exports_all_tables_stringified(spark, tmp_path):
    got: dict[str, list] = {}
    p = _mini_pipeline(spark, tmp_path, lambda name, rows: got.__setitem__(name, rows))
    p.sync("all")
    assert set(got) == {"cliente", "producto", "documento_venta", "detalle_documento"}
    header, *body = got["cliente"]
    assert header[0] == "id_cliente"
    assert body[0][0] == "1"
    assert all(isinstance(c, str) for row in body for c in row)  # stringify-all
    # NULL → '' (sheets_sync.py:45)
    assert "" in body[0]


def test_per_entity_sync_mirrors_synced_tables(spark, tmp_path):
    """The reference mirrors after EVERY entity sync, not only 'all'
    (endpoints.py:84-100) — a per-entity deployment must not leave the
    Sheets mirror stale (ADVICE r8)."""
    got: dict[str, list] = {}
    p = _mini_pipeline(spark, tmp_path, lambda name, rows: got.__setitem__(name, rows))
    p.warehouse.ensure_all()
    p.sync("clients")
    assert set(got) == {"cliente"}
    got.clear()
    p.sync("documents")
    assert set(got) == {"documento_venta", "detalle_documento"}


def test_mirror_error_is_non_fatal(spark, tmp_path):
    def boom(name, rows):
        raise RuntimeError("sheets quota")

    p = _mini_pipeline(spark, tmp_path, boom)
    p.sync("all")  # must not raise
    assert p.mirror_all() is False
    assert p.warehouse.read("cliente").count() == 1


def test_mirror_error_is_logged_with_table_and_text(spark, tmp_path, caplog):
    def flaky(name, rows):
        if name == "producto":
            raise RuntimeError("sheets quota exceeded")

    p = _mini_pipeline(spark, tmp_path, flaky)
    p.warehouse.ensure_all()
    with caplog.at_level(logging.WARNING, logger="imperio_patitas_etl_spark.plans.pipeline"):
        assert p.mirror(("cliente", "producto", "documento_venta")) is False
    failed = [r for r in caplog.records if r.levelno == logging.WARNING]
    assert len(failed) == 1
    assert "producto" in failed[0].getMessage()
    assert "sheets quota exceeded" in failed[0].getMessage()

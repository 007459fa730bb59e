"""Pipeline runner: the reference's API surface as library calls.

Replaces the FastAPI dispatch layer (app/api/endpoints.py:50-106,
scheduler_endpoints.py:19-206) with a runner over DataFrame sources:

- ``sync('clients'|'products'|'documents'|'all')``  ↔ POST /etl/sync/{entity}
- ``clean_and_reload()``                            ↔ POST /etl/clean-and-reload
- ``daily()``                                       ↔ POST /scheduler/etl/daily (7-day window)
- ``incremental(days)``                             ↔ POST /scheduler/etl/incremental
- ``test_sample(n)``                                ↔ POST /scheduler/etl/test

Run reports (valid/invalid counts per entity, A3) come back as a DataFrame
instead of log lines. Sources are pluggable callables returning DataFrames
— parquet fixtures in tests, a rate-limited REST reader in production (the
extract boundary stays driver-side exactly like the reference's
BsaleClient; everything after it is distributed).

The incremental path implements the date predicate for real —
``emissionDate >= cutoff`` — fixing the reference's unimplemented
``start_date`` filter (bsale_client.py:69-71, SURVEY.md §3.3) while keeping
its idempotent-upsert property: re-running any window yields the same
warehouse state. At scale the warehouse fact tables would be partitioned by
emission date, so this predicate prunes whole partitions.
"""

from __future__ import annotations

import logging
from collections.abc import Callable
from contextlib import ExitStack
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from imperio_patitas_etl_spark.operators.validate import ValidationResult
from imperio_patitas_etl_spark.plans.entities import (
    transform_clients,
    transform_documents,
    transform_products,
)
from imperio_patitas_etl_spark.sinks.warehouse import ParquetWarehouse

log = logging.getLogger(__name__)

SourceFn = Callable[[], DataFrame]


@dataclass
class EtlPipeline:
    """Extract → transform → load for the 4 warehouse tables."""

    spark: SparkSession
    warehouse: ParquetWarehouse
    sources: dict[str, SourceFn] = field(default_factory=dict)
    #: K5 mirror target: ``(table_name, [[header], [row], ...]) -> None``;
    #: None disables the mirror (tests inject a collector; production
    #: plugs the Sheets client). Mirror errors are NON-FATAL by contract
    #: (etl_service.py:737-741).
    exporter: Callable[[str, list[list[str]]], None] | None = None
    #: collected per-run (entity, valid, invalid) tuples
    _report_rows: list[tuple[str, int, int]] = field(default_factory=list)

    # -- entity syncs -----------------------------------------------------
    #
    # Each sync evaluates an entity once: the validation's tagged frame is
    # persisted, one aggregate takes valid and invalid (and fills the
    # cache), and the upsert reads the accepted rows from the cache, so
    # neither the partition-day list nor the merge re-runs the extract,
    # explode, joins and rules. The frames are released on every exit,
    # raises included.

    def sync_clients(self) -> int:
        """sync_clients (etl_service.py:508-547): validate → upsert cliente."""
        self.warehouse.ensure_all()
        res = transform_clients(self.sources["clients"]())
        with ExitStack() as held:
            accepted, n_valid, _ = self._evaluate(held, "cliente", res)
            if n_valid:  # F6: skip load when 0 valid rows (etl_service.py:535-537)
                self.warehouse.upsert("cliente", accepted)
        return n_valid

    def sync_products(self) -> int:
        """sync_products (etl_service.py:550-649): validate → upsert
        producto. Raises when every row is invalid (the reference treats
        an all-invalid product sync as fatal, :637-639)."""
        self.warehouse.ensure_all()
        res = transform_products(
            self.sources["products"](),
            self.sources["price_list"](),
            self.sources["costs"](),
        )
        with ExitStack() as held:
            accepted, n_valid, n_invalid = self._evaluate(held, "producto", res)
            if n_valid == 0 and n_invalid > 0:
                raise ValueError("product sync: all rows invalid")
            if n_valid:
                self.warehouse.upsert("producto", accepted)
        return n_valid

    def sync_documents(self, start_date: str | None = None) -> int:
        """sync_documents (etl_service.py:652-722): one input, two tables.

        The headers are evaluated first; the lines explode the documents
        whose ids are among the cached accepted headers, and are
        evaluated second. ``start_date`` (YYYY-MM-DD) filters on emission
        date — the predicate the reference plumbed through but never
        implemented (bsale_client.py:69-71).
        """
        self.warehouse.ensure_all()
        raw = self.sources["documents"]()
        if start_date is not None:
            raw = raw.filter(
                F.timestamp_seconds(F.col("emissionDate"))
                >= F.to_timestamp(F.lit(start_date))
            )
        headers, lines = transform_documents(raw)
        with ExitStack() as held:
            h_acc, n_h, _ = self._evaluate(held, "documento_venta", headers)
            l_acc, n_l, _ = self._evaluate(held, "detalle_documento", lines)
            if n_h:
                self.warehouse.upsert("documento_venta", h_acc)
            if n_l:
                self.warehouse.upsert("detalle_documento", l_acc)
        return n_h

    def _evaluate(
        self, held: ExitStack, entity: str, res: ValidationResult
    ) -> tuple[DataFrame, int, int]:
        """Persist ``res.tagged`` until ``held`` closes, count valid and
        invalid in one aggregate (the action that fills the cache), record
        them in the report, and return the accepted rows without their
        warning flags."""
        res.tagged.persist()
        held.callback(res.tagged.unpersist)
        n_valid, n_invalid = res.valid_invalid()
        self._report_rows.append((entity, n_valid, n_invalid))
        accepted = res.accepted.drop(*self._warn_cols(res.accepted))
        return accepted, n_valid, n_invalid

    # -- orchestration (endpoints.py:50-106, scheduler_endpoints.py) ------

    #: tables each entity sync materializes — the reference mirrors
    #: exactly this subset to Sheets after EVERY sync, not just 'all'
    #: (endpoints.py:84-100: sync_all_to_sheets({'cliente': ...}) after
    #: the clients branch, etc.)
    _ENTITY_TABLES = {
        "clients": ("cliente",),
        "products": ("producto",),
        "documents": ("documento_venta", "detalle_documento"),
    }

    def sync(self, entity: str, start_date: str | None = None) -> None:
        if entity == "clients":
            self.sync_clients()
        elif entity == "products":
            self.sync_products()
        elif entity == "documents":
            self.sync_documents(start_date)
        elif entity == "all":
            # clients → products → documents, the reference's order
            # (endpoints.py:63-80), then the full-refresh mirror
            self.sync_clients()
            self.sync_products()
            self.sync_documents(start_date)
            self.mirror_all()
            return
        else:
            raise ValueError(f"unknown entity {entity!r}")
        # per-entity mirror of just the synced tables (ADVICE r8: a
        # deployment driving per-entity syncs must not leave the Sheets
        # mirror silently stale)
        self.mirror(self._ENTITY_TABLES[entity])

    def mirror(self, tables) -> bool:
        """K5 mirror of the named warehouse tables (sheets_sync.py:49-59).
        An export error is logged as a warning with the table and the
        error text, and the remaining tables are still mirrored; the
        result is False if any table failed. The mirror never fails the
        sync (etl_service.py:737-741)."""
        if self.exporter is None:
            return True
        ok = True
        for table in tables:
            try:
                self.exporter(table, self.warehouse.export_stringified(table))
            except Exception as exc:
                log.warning(
                    "mirror of %s failed: %s: %s", table, type(exc).__name__, exc,
                    exc_info=exc,
                )
                ok = False
        return ok

    def mirror_all(self) -> bool:
        """K5: full-refresh mirror of all 4 tables."""
        from imperio_patitas_etl_spark.sinks.warehouse import WAREHOUSE_SCHEMAS

        return self.mirror(tuple(WAREHOUSE_SCHEMAS))

    def clean_and_reload(self) -> None:
        """Truncate all 4 tables then full resync (endpoints.py:18-48)."""
        self.warehouse.truncate_all()
        self.sync("all")

    def daily(self) -> None:
        """Daily full run with a trailing 7-day document window
        (scheduler_endpoints.py:184-206)."""
        cutoff = self.spark.sql("SELECT date_format(date_sub(current_date(), 7), 'yyyy-MM-dd')").first()[0]
        self.sync("all", start_date=cutoff)

    def incremental(self, days: int = 1) -> None:
        """4-hourly incremental: documents-only trailing window, idempotent
        by upsert (scheduler_endpoints.py:71-125)."""
        cutoff = self.spark.sql(
            f"SELECT date_format(date_sub(current_date(), {int(days)}), 'yyyy-MM-dd')"
        ).first()[0]
        self.sync_documents(start_date=cutoff)

    def test_sample(self, n: int = 5) -> dict[str, list]:
        """Smoke endpoint: first n raw records per entity, no load
        (scheduler_endpoints.py:140-182)."""
        return {
            name: fn().limit(n).collect()
            for name, fn in self.sources.items()
        }

    # -- run report (A3) --------------------------------------------------

    def report(self) -> DataFrame:
        """Valid/invalid counters as a queryable DataFrame, replacing the
        reference's log lines (etl_service.py:533,635,703)."""
        return self.spark.createDataFrame(
            self._report_rows, "entity string, valid long, invalid long"
        )

    @staticmethod
    def _warn_cols(df: DataFrame) -> list[str]:
        return [col for col in df.columns if col.startswith("warn_")]

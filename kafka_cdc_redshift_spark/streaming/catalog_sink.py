"""Catalog (DSv2) transactional-table merge sink: MERGE INTO Delta Lake /
Apache Iceberg targets.

The reference's Redshift path gets its transaction from the warehouse
(cdc_util/redshift_sink.py:477-509 BEGIN...END around DELETE+INSERT).
The Spark-native analog for lakehouse targets is a single ``MERGE INTO``
against a table format with atomic commits — Delta/Iceberg implement
Spark's row-level-operation API, so the one statement IS the transaction:
no staging table, no BEGIN/END bracketing, no truncate step.

This environment ships neither format's jars, so execution is gated:
`CatalogMergeSink.apply_batch` raises `TransactionalTableUnavailable`
with the actual engine error when the target's provider has no row-level
support (plain parquet tables — exercised live in tests), and the Delta
e2e test self-enables via importorskip when the jar appears. The SQL
generation (`merge_into_sql`) is pure and unit-tested either way — the
spelling is standard Spark SQL MERGE, identical for both formats.

Semantics match the JDBC sink's merge on a key-deduped batch (operators/
dedup.lww_dedup upstream): matched + delete-image -> DELETE (unless
skip_delete), matched -> UPDATE, not-matched non-delete -> INSERT.
"""

from __future__ import annotations

import re
import uuid
from collections.abc import Sequence

from pyspark.sql import DataFrame

from ..operators.dedup import DELETE_OP, OP_COL


class TransactionalTableUnavailable(RuntimeError):
    """The target table's provider has no MERGE/row-level support (or the
    format jars are absent) — the catalog analog of JdbcUnavailable."""


def _bq(ident: str) -> str:
    # Spark SQL backtick quoting (the catalog-side analog of sinks._q)
    return "`" + ident.replace("`", "``") + "`"


def _qualify(table: str) -> str:
    # quote each dotted part separately: db.table -> `db`.`table`
    return ".".join(_bq(p) for p in table.split("."))


def merge_into_sql(
    *,
    target: str,
    source: str,
    columns: Sequence[str],
    keys: Sequence[str],
    skip_delete: bool = False,
) -> str:
    """One standard Spark-SQL MERGE statement (runs unchanged on Delta and
    Iceberg): the single-statement form of the reference's staged
    DELETE+INSERT transaction. `source` is a view/table name holding the
    key-deduped batch; the op column never lands in the target (P5)."""
    cols_no_op = [c for c in columns if c != OP_COL]
    collist = ", ".join(_bq(c) for c in cols_no_op)
    on = " AND ".join(f"t.{_bq(k)} = s.{_bq(k)}" for k in keys)
    set_cols = [c for c in cols_no_op if c not in keys]
    parts = [
        f"MERGE INTO {_qualify(target)} AS t "
        f"USING {_qualify(source)} AS s ON {on}"
    ]
    if not skip_delete:
        parts.append(
            f"WHEN MATCHED AND s.{_bq(OP_COL)} = '{DELETE_OP}' THEN DELETE"
        )
    if set_cols:
        parts.append(
            "WHEN MATCHED THEN UPDATE SET "
            + ", ".join(f"t.{_bq(c)} = s.{_bq(c)}" for c in set_cols)
        )
    not_matched = (
        "" if skip_delete else f" AND s.{_bq(OP_COL)} <> '{DELETE_OP}'"
    )
    parts.append(
        f"WHEN NOT MATCHED{not_matched} THEN INSERT ({collist}) VALUES ("
        + ", ".join(f"s.{_bq(c)}" for c in cols_no_op)
        + ")"
    )
    return " ".join(parts)


#: engine messages that mean "this table/provider can't do row-level ops".
#: Deliberately narrow — only MERGE/row-level-capability phrases. A bare
#: "does not support" / "UNSUPPORTED_FEATURE" would reclassify unrelated
#: MERGE-time engine errors (a type or expression the engine "does not
#: support") as TransactionalTableUnavailable and mask the real failure.
_NO_ROW_LEVEL = re.compile(
    r"MERGE INTO TABLE is not supported"
    r"|does not support\W+(?:row.level|MERGE|DELETE|UPDATE)"
    r"|UNSUPPORTED_FEATURE\.TABLE_OPERATION"
    r"|not a Delta table"
    r"|row.level operation",
    re.IGNORECASE,
)


class CatalogMergeSink:
    """Merge CDC batches into a session-catalog transactional table.

    The lakehouse twin of `JdbcMergeSink`: same upstream contract (each
    batch key-deduped by LWW, delete images carried in `OP_COL`), but the
    target is a Delta/Iceberg table and the whole upsert is ONE atomic
    MERGE INTO — the table format's commit protocol supplies the
    transaction the reference got from Redshift's server-side BEGIN/END.

    `provider` names the bootstrap format ("delta", "iceberg"); targets
    created out-of-band just need MERGE support. Batches stage as a
    session temp view (zero-copy — the view is the batch's plan, so the
    MERGE's scan of it is the batch computation itself, no extra write).
    """

    def __init__(
        self,
        *,
        provider: str = "delta",
        namespace: str | None = None,
    ):
        self.provider = provider
        # optional catalog namespace the targets live in; the JDBC sink's
        # `db` is the SOURCE database (it only names the staging table),
        # so the duck-typed apply_batch ignores it — target placement is
        # a sink-level choice here
        self.namespace = namespace

    def _target(self, table: str) -> str:
        return f"{self.namespace}.{table}" if self.namespace else table

    def apply_batch(
        self,
        df: DataFrame,
        *,
        table: str,
        keys: Sequence[str],
        skip_delete: bool = False,
        db: str | None = None,  # JdbcMergeSink duck-type; see namespace
    ) -> None:
        spark = df.sparkSession
        table = self._target(table)
        view = f"cdc_stage_{uuid.uuid4().hex}"
        df.createOrReplaceTempView(view)
        try:
            if not spark.catalog.tableExists(table):
                if self.namespace:
                    # the JDBC path's DDL bootstrap tolerates a missing
                    # schema; give the catalog path the same courtesy so
                    # the first batch doesn't die on a raw AnalysisException
                    spark.sql(
                        "CREATE NAMESPACE IF NOT EXISTS "
                        f"{_qualify(self.namespace)}"
                    )
                cols = ", ".join(
                    _bq(c) for c in df.columns if c != OP_COL
                )
                # WHERE 1=3: the reference's empty-CTAS bootstrap spelling
                # (redshift_sink.py CTAS), provider-qualified
                spark.sql(
                    f"CREATE TABLE {_qualify(table)} USING {self.provider} "
                    f"AS SELECT {cols} FROM {_bq(view)} WHERE 1=3"
                )
            stmt = merge_into_sql(
                target=table, source=view, columns=df.columns, keys=keys,
                skip_delete=skip_delete,
            )
            try:
                spark.sql(stmt)
            except Exception as e:  # noqa: BLE001
                if _NO_ROW_LEVEL.search(str(e)):
                    raise TransactionalTableUnavailable(
                        f"target {table!r} (provider {self.provider!r}) has "
                        f"no MERGE/row-level support — install the Delta/"
                        f"Iceberg jars or point at a transactional table: {e}"
                    ) from e
                raise
        finally:
            spark.catalog.dropTempView(view)

    def append_table(self, df: DataFrame, table: str) -> None:
        """Append-only channel (the *_delete audit tables — J2's
        save_delete feed): plain provider-format append, created on
        first write."""
        df.write.format(self.provider).mode("append").saveAsTable(
            self._target(table)
        )

"""JDBC merge sink: staged upsert into an external keyed table.

Parity with the reference's Redshift write path (cdc_util/redshift_sink.py:
244-253, 477-527): stage the batch, bootstrap the target with an empty
CTAS (D7), then run one transaction
  DELETE FROM target WHERE EXISTS (delete image in stage on <pk>)  (J2)
  DELETE FROM stage WHERE op = 'd'
  MERGE INTO target USING stage ON <pk>                            (J3)
    WHEN MATCHED THEN UPDATE ... WHEN NOT MATCHED THEN INSERT ...
  DELETE FROM stage                                                (D8)
with a drop-staging-and-retry-once wrapper (error path :528-547).

That is the restricted MERGE Redshift accepts, and it is valid SQL:2008,
so the statement list production sends is the one the tests execute live
on embedded Derby. Only the bootstrap CTAS is spelled per engine, chosen
from the JDBC URL (see build_merge_sql).

The SQL generation is pure and unit-tested; execution needs a JDBC driver
jar + live database, so `JdbcMergeSink.apply_batch` stages via
`df.write.jdbc` and runs post-actions through the JVM DriverManager — both
raising JdbcUnavailable when no driver is present.
"""

from __future__ import annotations

import os
import shutil
import uuid
from collections.abc import Sequence
from dataclasses import dataclass

from pyspark.sql import DataFrame

from ..operators.dedup import DELETE_OP, OP_COL


class JdbcUnavailable(RuntimeError):
    pass


# ---------------------------------------------------------------------------
# Bulk staged load (S3 + COPY via the spark-redshift community connector)
#
# The reference never row-inserts a batch: it stages through S3 and lets the
# warehouse COPY it, with bad-record tolerance and column truncation
# (cdc_util/redshift_sink.py:345-359, 514-527; README.md:61-71). At the
# reference's 1M rows/trigger that is the difference between a 30 s batch
# and a multi-minute one. These helpers generate the exact writer options;
# execution needs the connector jar + live warehouse, so generation is pure
# and unit-tested while `write_bulk_staged` gates on the environment.
# ---------------------------------------------------------------------------

BULK_CONNECTOR_FORMAT = "io.github.spark_redshift_community.spark.redshift"


@dataclass(frozen=True)
class BulkLoadOptions:
    """COPY-path tuning (reference defaults: tempformat CSV, maxerror from
    config `maxerror`, TRUNCATECOLUMNS always on, auto date/time formats)."""

    tempdir: str                      # S3 staging prefix (redshift_tmpdir)
    tempformat: str = "CSV"           # CSV | CSV GZIP | JSON (README.md:66)
    maxerror: int = 0                 # tolerated bad records per COPY
    truncate_columns: bool = True     # TRUNCATECOLUMNS: clip oversize varchars
    region: str | None = None
    s3_endpoint: str | None = None
    iam_role: str | None = None

    def extracopyoptions(self) -> str:
        parts = []
        if self.truncate_columns:
            parts.append("TRUNCATECOLUMNS")
        if self.region:
            parts.append(f"region '{self.region}'")
        parts.append(f"maxerror {self.maxerror}")
        parts.append("dateformat 'auto' timeformat 'auto'")
        return " ".join(parts)


def bulk_writer_options(
    *,
    url: str,
    stage_table: str,
    user: str,
    password: str,
    post_actions: Sequence[str],
    bulk: BulkLoadOptions,
) -> dict[str, str]:
    """Writer options for one staged batch: stage lands via COPY, then the
    merge transaction runs as `postactions` — atomic on the warehouse side,
    one network round-trip (redshift_sink.py:345-359)."""
    opts = {
        "url": url,
        "dbtable": stage_table,
        "user": user,
        "password": password,
        "tempdir": bulk.tempdir,
        "tempformat": bulk.tempformat,
        "postactions": "; ".join(post_actions),
        "extracopyoptions": bulk.extracopyoptions(),
    }
    if bulk.region:
        opts["tempdir_region"] = bulk.region
    if bulk.s3_endpoint:
        opts["s3_endpoint"] = bulk.s3_endpoint
    if bulk.iam_role:
        opts["aws_iam_role"] = bulk.iam_role
    return opts


def write_bulk_staged(
    df: DataFrame,
    *,
    url: str,
    db: str,
    table: str,
    keys: Sequence[str],
    user: str,
    password: str,
    bulk: BulkLoadOptions,
    skip_delete: bool = False,
) -> None:
    """Stage `df` through S3+COPY and merge via postactions. Raises
    JdbcUnavailable when the connector jar isn't on the classpath (as in
    this test environment)."""
    stage = stage_table_name(db, table)
    stmts = build_merge_sql(
        url=url, target=table, stage=stage, columns=df.columns, keys=keys,
        skip_delete=skip_delete,
    )
    opts = bulk_writer_options(
        url=url, stage_table=stage, user=user, password=password,
        post_actions=stmts, bulk=bulk,
    )
    writer = df.write.format(BULK_CONNECTOR_FORMAT)
    for k, v in opts.items():
        writer = writer.option(k, v)
    try:
        writer.mode("append").save()
    except Exception as e:  # noqa: BLE001
        raise JdbcUnavailable(f"bulk connector unavailable: {e}") from e


#: COPY `NULL AS` token for the staged CSV — an explicit token (not the
#: empty string) so SQL NULL never collides with a genuinely empty string
#: field after the quote-stripping COPY applies to quoted fields.
BULK_NULL_TOKEN = "@NULL@"


def bulk_stage_csv_options(bulk: BulkLoadOptions) -> dict[str, str]:
    """The staged-file format both bulk transports share: RFC 4180 CSV
    (quote-doubling escape — what COPY's CSV mode expects), an explicit
    NULL token, and ISO date/timestamp text that the generated
    `dateformat 'auto' timeformat 'auto'` COPY options accept. Declared
    once so the filesystem twin stages byte-compatible files with the
    S3 path's COPY contract."""
    # Known token-collision caveat (inherent to COPY's `NULL AS` too): a
    # string field whose VALUE is exactly the null token reads back as
    # SQL NULL — the token is chosen to make that practically impossible
    # for real data, matching the connector's convention.
    opts = {
        "header": "false",
        "nullValue": BULK_NULL_TOKEN,
        "quote": '"',
        "escape": '"',
        # read-side: records may span lines (quoted embedded newlines —
        # COPY's CSV mode handles them natively, Spark's reader needs the
        # flag); ignored on write
        "multiLine": "true",
        # non-finite doubles: the writer emits Java Double.toString
        # ("Infinity"/"-Infinity"), but the reader's DEFAULT tokens are
        # "Inf"/"-Inf" — without pinning these, infinite values silently
        # null out on the read side of the staged load
        "positiveInf": "Infinity",
        "negativeInf": "-Infinity",
        "timestampFormat": "yyyy-MM-dd HH:mm:ss.SSSSSS",
        "timestampNTZFormat": "yyyy-MM-dd HH:mm:ss.SSSSSS",
        "dateFormat": "yyyy-MM-dd",
    }
    fmt = bulk.tempformat.upper()
    if fmt == "CSV GZIP":
        opts["compression"] = "gzip"
    elif fmt != "CSV":
        # the staged-file twin speaks CSV only; a JSON-configured job must
        # not silently stage a different format than it declared — the
        # connector path honors JSON, so dispatch there or reconfigure
        raise ValueError(
            f"filesystem bulk staging supports tempformat CSV / CSV GZIP, "
            f"not {bulk.tempformat!r} — use an object-store tempdir (the "
            f"COPY connector honors JSON) or set tempformat='CSV'"
        )
    return opts


def is_object_store_path(path: str) -> bool:
    """True for s3://, s3a://, gs://, abfss://... staging prefixes — the
    transports that need the warehouse-side COPY connector. Plain paths
    and file:// URIs stage through the filesystem twin."""
    scheme, sep, _ = path.partition("://")
    return bool(sep) and scheme.lower() not in ("file", "local")


def _q(ident: str) -> str:
    return '"' + ident.replace('"', '""') + '"'  # quoted identifiers (P6)


def stage_table_name(db: str, table: str) -> str:
    return f"stage_table_{db}_{table}"  # redshift_sink.py:385-389


def merge_condition(stage: str, target: str, keys: Sequence[str]) -> str:
    """Multi-column equi-join predicate (J1, redshift_sink.py:229-236)."""
    return " AND ".join(
        f"{stage}.{_q(k)} = {target}.{_q(k)}" for k in keys
    )


def build_merge_sql(
    *,
    url: str,
    target: str,
    stage: str,
    columns: Sequence[str],
    keys: Sequence[str],
    skip_delete: bool = False,
) -> list[str]:
    """Bootstrap CTAS plus the transactional post-actions for one staged
    batch, in the RESTRICTED MERGE shape Redshift accepts — exactly one
    unrefined WHEN MATCHED and one unrefined WHEN NOT MATCHED clause:

      1. delete images are applied BEFORE the merge: delete matching
         target keys (correlated EXISTS), then delete the images from the
         stage so the unrefined MERGE cannot re-insert them;
      2. one `MERGE INTO ... WHEN MATCHED THEN UPDATE ... WHEN NOT
         MATCHED THEN INSERT ...` upserts the remainder;
      3. `DELETE FROM stage` empties the stage (D8) inside the same
         transaction — TRUNCATE implicitly COMMITS on Redshift, which
         would break the delete+merge atomicity.

    Under skip_delete, step 1 is skipped and delete images upsert like
    any row. The stage must be key-deduped (the pipeline lww_dedups
    before staging); a duplicate key trips the engine's MERGE
    cardinality error and the transaction rolls back.

    The shape is also valid SQL:2008, so the same list runs live on
    embedded Derby. The one statement spelled per engine is the empty
    CTAS bootstrap (D7, redshift_sink.py:498-501), chosen from `url`:
    Redshift's CTAS has no WITH NO DATA, Derby's has no IF NOT EXISTS
    (run_sql skips its already-exists error)."""
    cols_no_op = [c for c in columns if c != OP_COL]  # op never lands (P5)
    collist = ", ".join(_q(c) for c in cols_no_op)
    on = merge_condition(stage, target, keys)
    set_cols = [c for c in cols_no_op if c not in keys]
    # the op column stages as whatever the writer's string mapping is
    # (CLOB on Derby, which '=' can't compare) — CAST for the predicates,
    # a no-op on engines that staged VARCHAR
    op_ref = f"CAST({stage}.{_q(OP_COL)} AS VARCHAR(32))"
    stmts = [
        f"CREATE TABLE {target} AS "
        f"SELECT {collist} FROM {stage} WITH NO DATA"
        if "derby" in url.lower() else
        f"CREATE TABLE IF NOT EXISTS {target} AS "
        f"SELECT {collist} FROM {stage} WHERE 1 = 3",
        "BEGIN",
    ]
    if not skip_delete:
        stmts.append(
            f"DELETE FROM {target} WHERE EXISTS "
            f"(SELECT 1 FROM {stage} WHERE {on} AND {op_ref} = '{DELETE_OP}')"
        )
        stmts.append(f"DELETE FROM {stage} WHERE {op_ref} = '{DELETE_OP}'")
    # both clauses are required by the restricted form: an all-key table
    # updates a key to itself (a no-op)
    sets = ", ".join(
        f"{_q(c)} = {stage}.{_q(c)}" for c in (set_cols or [keys[0]])
    )
    stmts.append(
        f"MERGE INTO {target} USING {stage} ON {on} "
        f"WHEN MATCHED THEN UPDATE SET {sets} "
        f"WHEN NOT MATCHED THEN INSERT ({collist}) VALUES ("
        + ", ".join(f"{stage}.{_q(c)}" for c in cols_no_op)
        + ")"
    )
    stmts.append(f"DELETE FROM {stage}")
    stmts.append("END")
    return stmts


class JdbcMergeSink:
    """Merge CDC batches into a JDBC target through a staging table and
    the one statement list of `build_merge_sql` (restricted MERGE, run as
    one transaction). The URL picks the bootstrap CTAS spelling — Derby's
    `WITH NO DATA` or Redshift's `IF NOT EXISTS ... WHERE 1 = 3` — and
    nothing else differs between engines."""

    def __init__(self, url: str, *, user: str, password: str,
                 driver: str = "org.postgresql.Driver",
                 batchsize: int = 10_000,
                 bulk: BulkLoadOptions | None = None):
        self.url = url
        self.user = user
        self.password = password
        self.driver = driver
        # rows per JDBC executeBatch on the generic staging path; the
        # COPY-path analog of the reference's bulk options. Postgres-family
        # targets also want reWriteBatchedInserts=true on the url.
        self.batchsize = batchsize
        # when set, apply_batch stages through S3+COPY (write_bulk_staged)
        # instead of row-batched JDBC inserts
        self.bulk = bulk

    def _props(self) -> dict[str, str]:
        return {
            "user": self.user,
            "password": self.password,
            "driver": self.driver,
            "batchsize": str(self.batchsize),
        }

    def _connection(self, spark):
        try:
            jvm = spark.sparkContext._jvm
            jvm.java.lang.Class.forName(self.driver)
            return jvm.java.sql.DriverManager.getConnection(
                self.url, self.user, self.password
            )
        except Exception as e:  # noqa: BLE001
            raise JdbcUnavailable(f"JDBC driver/connection unavailable: {e}") from e

    # engine-agnostic "object exists / missing" signatures: Derby SQLStates
    # plus the common message substrings (Postgres family)
    _EXISTS_ERRS = ("X0Y32", "already exists")
    _MISSING_ERRS = ("42Y55", "42X05", "does not exist")

    def run_sql(self, spark, statements: Sequence[str]) -> None:
        """Execute the statement list. "BEGIN"/"END" markers are mapped to
        the JDBC transaction API (setAutoCommit(False) / commit()) — the
        portable form of the reference's server-side BEGIN...END: with
        driver-side autocommit the literal statements would NOT bracket
        one transaction, and an exception mid-list rolls back on close
        instead of leaving half a merge applied. A CREATE TABLE hitting
        already-exists or a DROP TABLE hitting not-exists is skipped, so
        the bootstrap CTAS and the stage drop need no IF [NOT] EXISTS
        (which standard SQL lacks)."""
        conn = self._connection(spark)
        try:
            st = conn.createStatement()
            for sql in statements:
                if sql == "BEGIN":
                    conn.setAutoCommit(False)
                    continue
                if sql == "END":
                    conn.commit()
                    conn.setAutoCommit(True)
                    continue
                try:
                    st.execute(sql)
                except Exception as e:  # noqa: BLE001
                    msg = str(e)
                    head = sql.lstrip().upper()
                    if head.startswith("CREATE TABLE") and any(
                        s in msg for s in self._EXISTS_ERRS
                    ):
                        continue
                    if head.startswith("DROP TABLE") and any(
                        s in msg for s in self._MISSING_ERRS
                    ):
                        continue
                    raise
        finally:
            try:
                if not conn.getAutoCommit():
                    conn.rollback()  # abort a half-applied transaction
                    conn.setAutoCommit(True)
            except Exception:  # noqa: BLE001 - close() is the priority
                pass
            conn.close()

    def _stage_and_merge(self, spark, stage: str, write_stage,
                         stmts: Sequence[str]) -> None:
        """`write_stage()` then the merge; on failure drop a possibly
        half-written staging table and retry once (redshift_sink.py:
        528-547) — a prior crash's leftover stage poisons the append."""
        try:
            write_stage()
            self.run_sql(spark, stmts)
        except JdbcUnavailable:
            raise
        except Exception:
            self.run_sql(spark, [f"DROP TABLE {stage}"])
            write_stage()
            self.run_sql(spark, stmts)

    def apply_batch(
        self,
        df: DataFrame,
        *,
        db: str,
        table: str,
        keys: Sequence[str],
        skip_delete: bool = False,
    ) -> None:
        """Stage the batch and merge. Retries once after dropping a possibly
        half-written staging table (redshift_sink.py:528-547)."""
        if self.bulk is not None and is_object_store_path(self.bulk.tempdir):
            write_bulk_staged(
                df, url=self.url, db=db, table=table, keys=keys,
                user=self.user, password=self.password, bulk=self.bulk,
                skip_delete=skip_delete,
            )
            return
        stage = stage_table_name(db, table)
        stmts = build_merge_sql(
            url=self.url, target=table, stage=stage, columns=df.columns,
            keys=keys, skip_delete=skip_delete,
        )
        if self.bulk is not None:
            self._apply_bulk_fs(df, stage, stmts)
            return
        self._stage_and_merge(
            df.sparkSession, stage,
            lambda: df.write.jdbc(
                self.url, stage, mode="append", properties=self._props()
            ),
            stmts,
        )

    def _apply_bulk_fs(
        self, df: DataFrame, stage: str, stmts: Sequence[str]
    ) -> None:
        """Filesystem twin of the S3+COPY bulk path (`write_bulk_staged`),
        taken when `bulk.tempdir` is a plain filesystem prefix: stage the
        batch as the SHARED staged-CSV format (`bulk_stage_csv_options` —
        RFC 4180 quote-doubling, explicit NULL token, auto-parseable
        date/timestamp text), load the staged files into the stage table,
        and run the merge post-actions as ONE warehouse transaction — the
        same stage -> COPY -> postactions contract as the reference
        (cdc_util/redshift_sink.py:514-527) with only the transport
        swapped. This makes the staging-format fidelity and the
        transactional sequencing live-testable (embedded Derby) without
        the connector jar, and gives on-prem deployments whose staging
        area is NFS a working bulk path; s3://-style prefixes dispatch to
        the connector instead (see apply_batch)."""
        assert self.bulk is not None
        spark = df.sparkSession
        csv_opts = bulk_stage_csv_options(self.bulk)
        root = self.bulk.tempdir
        local_root = root[len("file://"):] if root.startswith("file://") else root
        stage_dir = os.path.abspath(
            os.path.join(local_root, f"{stage}_{uuid.uuid4().hex}")
        )
        # Spark resolves a plain path against fs.defaultFS while
        # shutil.rmtree always deletes from the driver-local disk; stage
        # through an explicit file:// URI so the write, the COPY-twin
        # read, and the cleanup all target the SAME filesystem even on a
        # cluster whose defaultFS is HDFS/object storage
        stage_uri = "file://" + stage_dir

        def load_stage():
            # the warehouse COPY stand-in: the STAGED BYTES are what load
            # (re-read with the declared format, schema from the batch),
            # so a staging-format infidelity fails the merge result, not
            # just a unit assertion; a retry reloads from the staged files
            staged = spark.read.schema(df.schema).options(**csv_opts).csv(
                stage_uri
            )
            staged.write.jdbc(
                self.url, stage, mode="append", properties=self._props()
            )

        try:
            df.write.options(**csv_opts).mode("overwrite").csv(stage_uri)
            self._stage_and_merge(spark, stage, load_stage, stmts)
        finally:
            shutil.rmtree(stage_dir, ignore_errors=True)

    def append_table(self, df: DataFrame, table: str) -> None:
        """Plain batched append (the <table>_delete stream,
        redshift_sink.py:242-253)."""
        df.write.jdbc(self.url, table, mode="append", properties=self._props())

    def fetch_catalog_columns(
        self, spark, table: str, schema: str | None = None
    ) -> list[tuple[str, str]]:
        """Portable live-catalog probe via JDBC DatabaseMetaData.getColumns —
        the engine-agnostic twin of `fetch_catalog_rows` (whose pg_table_def
        query only a Redshift/Postgres family target can answer). Works on
        any JDBC database (exercised live against Derby in the tests);
        returns the same (column, type string) rows for
        operators.schema_evolution.catalog_to_struct -> cast_to_target.

        Identifier case: unquoted DDL is case-folded by the engine (Derby
        uppercases), so the probe retries the folded spellings of `table`;
        column names come back exactly as stored (the Spark JDBC writer
        quotes them, preserving case)."""
        conn = self._connection(spark)
        try:
            md = conn.getMetaData()
            for cand in dict.fromkeys((table, table.upper(), table.lower())):
                rs = md.getColumns(None, schema, cand, None)
                rows: list[tuple[str, str]] = []
                while rs.next():
                    name = rs.getString("COLUMN_NAME")
                    tname = (rs.getString("TYPE_NAME") or "").lower()
                    size = rs.getInt("COLUMN_SIZE")
                    digits = rs.getInt("DECIMAL_DIGITS")
                    if tname in ("varchar", "character varying", "char",
                                 "character"):
                        tstr = f"character varying({size})"
                    elif tname in ("numeric", "decimal"):
                        tstr = f"numeric({size},{digits})"
                    else:
                        tstr = tname
                    rows.append((name, tstr))
                if rows:
                    return rows
            return []
        finally:
            conn.close()

    def fetch_catalog_rows(
        self, spark, table: str, schema: str = "public"
    ) -> list[tuple[str, str]]:
        """Live-catalog probe for ignore_ddl mode: (column, type string)
        rows from pg_table_def (redshift_schema_evolution.py:98-100); feed
        to operators.schema_evolution.catalog_to_struct -> cast_to_target."""
        from ..operators.schema_evolution import catalog_query

        conn = self._connection(spark)
        try:
            rs = conn.createStatement().executeQuery(catalog_query(table, schema))
            rows = []
            while rs.next():
                rows.append((rs.getString(1), rs.getString(2)))
            return rows
        finally:
            conn.close()

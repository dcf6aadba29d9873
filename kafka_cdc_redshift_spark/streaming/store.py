"""Keyed target-table store over parquet with atomic versioned swaps.

Replaces the reference's Redshift staging-table + transactional merge
(cdc_util/redshift_sink.py:477-509): the merge itself is the in-engine
left-anti join + union (operators/merge.py); this store provides the
transactional *publish* — each merge writes a new `version=N` directory and
flips a pointer file, so readers never observe a partial write and a failed
batch leaves the previous version intact (same effect as the reference's
BEGIN...END).

The pointer, `<table>/_current.json`, holds:
  * `version`: the live `version=N` directory (the table's BASE);
  * `schema`: that version's schema as Spark JSON, all fields nullable (as
    Spark writes parquet), so `read` opens the version without a
    schema-inference job; a pointer without it falls back to inference;
  * `batch_id` / `folded_ids` (optional): the replay guards, see
    `last_batch_id` and `folded_batch_ids`.

An `AppendLog` manifest (`<log>/<table>/_manifest.json`) records, beside
its committed batch ids and segment list, each listed segment's schema in
the pointer's spelling, so `AppendLog.read` and the delta reads below
open the state this store wrote without a schema-inference job; a
segment without one (written before schemas were recorded) falls back
to inference.

Besides the base, a table may hold DELTAS: one batch each, committed
O(|batch|) into the store's one delta log (an `AppendLog`; `_append/` for
the copy-on-write store, `_delta/` for merge-on-read). `read` resolves
base ∪ live deltas by the table's delta kind, recorded at its first
delta publish in `<log>/<table>/_config.json` (no file reads as append):
  * `append` (`publish_append`; delete log, quarantine): the union;
  * `merge` (`publish_delta`): latest delta wins per key;
  * `scd2` (`publish_scd2_delta`): one `scd2_merge_batch` over the base.
A table keeps one kind and one key list; a publish of another refuses.
`fold_deltas` (the maintenance cycle) materializes the resolved view as
the next base version and retires the folded deltas.

At scale the store maps onto any table format with atomic commit (Delta/
Iceberg swap, or HDFS rename); version dirs keep history for replay audits.
"""

from __future__ import annotations

import json
import os
from contextlib import contextmanager
from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


def write_json_atomic(path: str, obj) -> None:
    """Write `obj` as JSON to `path` so a reader sees the old file or the
    new one, never a partial write: a temp file, then one os.replace."""
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f)
    os.replace(tmp, path)


def _schema_json(df: DataFrame) -> dict:
    """`df`'s schema as Spark JSON with every field nullable, the way the
    parquet files Spark writes hold it: a read opened with it equals an
    inferred read, without the inference job."""
    return json.loads(df._jdf.schema().asNullable().json())


def _adhoc_batch_id() -> str:
    """Unique id for an append with no stream batch identity (batch_id=
    None callers): such appends have no replay to guard against, so they
    must never collide — with each other or with a retired-then-reused
    counter value (a folded id in `folded_batch_ids` would eat the
    append)."""
    import uuid

    return f"adhoc-{uuid.uuid4().hex}"


class ParquetTargetStore:
    _DELTA_DIR = "_append"  # the delta log's directory under root

    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)
        self._delta = AppendLog(os.path.join(root, self._DELTA_DIR))

    def _meta_path(self, table: str) -> str:
        return os.path.join(self.root, table, "_current.json")

    def _pointer(self, table: str) -> dict:
        """The table's pointer contents (see the module docstring); {}
        when the table has none."""
        try:
            with open(self._meta_path(table)) as f:
                return json.load(f)
        except (FileNotFoundError, json.JSONDecodeError):
            return {}

    def current_version(self, table: str) -> int | None:
        return self._pointer(table).get("version")

    def last_batch_id(self, table: str):
        """The foreachBatch batch_id recorded with the current version, or
        None. Published atomically with the version pointer, so "this
        batch already landed" survives a crash between publish and
        checkpoint commit — the guard that makes read-modify-append
        updates (SCD2 history, delete log) replay-idempotent without any
        extra scan or shuffle. Maintenance republishes (compaction, delta
        folds) carry the pointer FORWARD (see `publish`): a rewrite that
        moves no data must not erase the replay guard."""
        return self._pointer(table).get("batch_id")

    def folded_batch_ids(self, table: str) -> list:
        """Batch ids whose deltas were folded into the CURRENT base version
        (recorded atomically with the fold's pointer flip). Closes the
        fold's crash window: if the fold publishes base but dies before
        retiring the delta manifest, readers must not resolve those
        deltas a second time — `read` excludes any committed delta whose
        id appears here, and the next fold retires the leftovers."""
        return self._pointer(table).get("folded_ids", [])

    def exists(self, table: str) -> bool:
        meta = self._pointer(table)
        return meta.get("version") is not None or bool(
            self._live_delta_ids(table, meta)
        )

    def path(self, table: str) -> str | None:
        v = self.current_version(table)
        if v is None:
            return None
        return os.path.join(self.root, table, f"version={v}")

    def read(self, spark: SparkSession, table: str) -> DataFrame | None:
        base = None
        meta = self._pointer(table)  # version, schema, folded ids: ONE read
        if meta.get("version") is not None:
            reader = spark.read
            if "schema" in meta:  # no schema-inference job
                reader = reader.schema(T.StructType.fromJson(meta["schema"]))
            base = reader.parquet(
                os.path.join(self.root, table, f"version={meta['version']}")
            )
        deltas = self._read_deltas(spark, table, meta)
        if deltas is None:
            return base
        cfg = self._load_config(table) or {"kind": "append"}
        if cfg["kind"] == "merge":
            # merge-on-read's `publish_delta` deltas: a batch supersedes
            # everything before it for its keys, so the row from the
            # latest delta (base = -1) wins per key
            if base is not None:
                deltas = deltas.unionByName(
                    base.withColumn("__seq", F.lit(-1)),
                    allowMissingColumns=True,
                )
            w = Window.partitionBy(*cfg["keys"]).orderBy(F.desc("__seq"))
            res = (
                deltas.withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") == 1)
            )
            if not cfg.get("skip_delete", False) and "op" in res.columns:
                res = res.filter(F.col("op").isNull() | (F.col("op") != "d"))
            return res.drop("__rn", "__seq", *self._BOOK)  # absent: no-op
        deltas = deltas.drop("__seq")
        if cfg["kind"] == "scd2":
            from ..operators.merge import scd2_merge_batch

            return scd2_merge_batch(
                base, deltas, cfg["keys"],
                order_col=cfg.get("order_col", "ts_ms"),
                tiebreak_cols=[
                    c for c in cfg.get("tiebreak", ()) if c in deltas.columns
                ],
            )
        if base is None:
            return deltas
        return base.unionByName(deltas, allowMissingColumns=True)

    # -- deltas: the one delta log ------------------------------------------
    # A table that only ever GROWS (delete log, quarantine) would cost a
    # read-union-dedup-republish of O(|table-ever|) per batch under
    # copy-on-write, so its batches land in the delta log instead and the
    # maintenance cycle folds them into the base version — under both
    # target_store_modes. Merge-on-read adds keyed and SCD2 deltas.
    def _config_path(self, table: str) -> str:
        return os.path.join(self._delta.root, table, "_config.json")

    def _load_config(self, table: str) -> dict | None:
        """The table's delta config (persisted: `read` must resolve after a
        restart without re-learning keys from the caller); None when the
        table has none, which reads as kind `append`."""
        try:
            with open(self._config_path(table)) as f:
                cfg = json.load(f)
        except (FileNotFoundError, json.JSONDecodeError):
            return None
        # configs written before `kind` was recorded: keyless = append
        cfg.setdefault("kind", "merge" if cfg.get("keys") else "append")
        return cfg

    def _ensure_config(self, table: str, cfg: dict) -> None:
        """Record `cfg` at the table's first delta publish; refuse a
        publish whose kind or keys differ from the recorded ones."""
        prev = self._load_config(table)
        if prev is None:
            os.makedirs(os.path.join(self._delta.root, table), exist_ok=True)
            write_json_atomic(self._config_path(table), cfg)
        elif (prev["kind"], prev.get("keys")) != (cfg["kind"], cfg["keys"]):
            raise ValueError(
                f"table {table!r} delta config mismatch: {prev} vs {cfg}"
            )

    def has_applied(self, table: str, batch_id) -> bool:
        """True when `batch_id`'s delta is committed OR was folded into the
        base version. The fold records every folded id — not just the
        last — atomically with the base pointer, so the guard spans folds
        AND the fold's publish/retire crash window: re-applying an
        append or SCD2 batch over its own folded effect is NOT a no-op
        (base ∪ delta duplicates its rows), and the fold's retire erases
        the manifest's memory of it."""
        meta = self._pointer(table)
        return (
            self._delta.has_batch(table, batch_id)
            or meta.get("batch_id") == batch_id
            or batch_id in meta.get("folded_ids", [])
        )

    def _live_delta_ids(self, table: str, meta: dict) -> list:
        """Committed delta ids minus those the pointer `meta` records as
        folded into the base — a fold that crashed between its base
        publish and manifest retire leaves folded-but-committed deltas,
        which a reader must not resolve twice."""
        folded = set(meta.get("folded_ids", []))
        return [b for b in self._delta.committed(table) if b not in folded]

    def _read_deltas(self, spark: SparkSession, table: str,
                     meta: dict) -> DataFrame | None:
        """The live deltas, each row tagged with its delta's commit
        position `__seq`; None when there are none. One read per batch
        directory, opened with that delta's recorded schema, +
        unionByName, so columns added across batches null-fill instead
        of failing one multi-directory scan."""
        parts = [
            self._delta.read(spark, table, [f"batch={b}"])
            .withColumn("__seq", F.lit(i))
            for i, b in enumerate(self._live_delta_ids(table, meta))
        ]
        if not parts:
            return None
        return reduce(
            lambda a, b: a.unionByName(b, allowMissingColumns=True), parts
        )

    def delta_count(self, table: str) -> int:
        """Committed-but-unfolded deltas for `table` — the read-amplification
        gauge the job's fold backstop polls."""
        return len(self._live_delta_ids(table, self._pointer(table)))

    def publish_append(self, rows: DataFrame, table: str, batch_id) -> None:
        """Append one batch's rows to `table` (delete-log shape: no keys,
        no resolution), O(|rows|) written, replay-guarded by
        `has_applied`.

        batch_id=None (direct/process-style calls with no stream identity)
        appends under a generated unique id: there is nothing to guard a
        replay against, and committing the literal None would make every
        LATER None-id append look like a replay and silently drop it."""
        self._ensure_config(table, {"kind": "append", "keys": None})
        if batch_id is None:
            batch_id = _adhoc_batch_id()
        elif self.has_applied(table, batch_id):
            return
        self._delta.append(rows, table, batch_id)

    def fold_deltas(self, spark: SparkSession, table: str) -> int | None:
        """Materialize the resolved view as the next base version and
        retire the folded deltas — run from the maintenance cycle.
        Crash-safe in either order: the publish records EVERY folded
        batch id atomically with the pointer flip, `read` excludes
        folded-but-unretired deltas, and the next fold retires those
        leftovers before folding anything new."""
        committed = self._delta.committed(table)
        if not committed:
            return None
        folded = set(self.folded_batch_ids(table))
        leftovers = [b for b in committed if b in folded]
        if leftovers:  # heal a crash between a prior fold's publish+retire
            self._delta.retire(table, leftovers)
        ids = [b for b in committed if b not in folded]
        if not ids:
            return None
        resolved = self.read(spark, table)
        v = self.publish(resolved, table, batch_id=ids[-1], folded_ids=ids)
        self._delta.retire(table, ids)
        return v

    def publish(self, df: DataFrame, table: str, *, batch_id=None,
                folded_ids=None) -> int:
        """Write df as the next version and atomically flip the pointer.
        `batch_id` (optional) is committed in the same pointer flip; see
        `last_batch_id`. When the caller passes no batch_id (maintenance
        rewrites: compaction, re-clustering), the CURRENT pointer's
        batch_id — and any recorded folded_ids — carry forward: a rewrite
        that only reorganizes files must not erase the replay guard, or a
        crash after maintenance would let a checkpoint retry re-apply a
        batch the table already absorbed (zero-length SCD2 duplicates,
        double-appended deltas)."""
        prev = self.current_version(table)
        nxt = 0 if prev is None else prev + 1
        out = os.path.join(self.root, table, f"version={nxt}")
        self._write_version(df, table, out, nxt)
        meta = {"version": nxt, "schema": _schema_json(df)}
        if batch_id is None:
            batch_id = self.last_batch_id(table)  # carry forward
        if folded_ids is None:
            folded_ids = self.folded_batch_ids(table)  # carry forward
        if batch_id is not None:
            meta["batch_id"] = batch_id
        if folded_ids:
            meta["folded_ids"] = list(folded_ids)
        write_json_atomic(self._meta_path(table), meta)  # the pointer flip
        return nxt

    def _write_version(self, df: DataFrame, table: str, out: str, version: int) -> None:
        df.write.mode("overwrite").parquet(out)

    def versions_on_disk(self, table: str) -> list[int]:
        """Version directories currently backing `table`, oldest first —
        the copy-on-write version-chain length the churn audit records."""
        try:
            names = os.listdir(os.path.join(self.root, table))
        except FileNotFoundError:
            return []
        return sorted(
            int(n.split("=", 1)[1])
            for n in names
            if n.startswith("version=") and n.split("=", 1)[1].isdigit()
        )

    def prune_versions(
        self, table: str, *, keep: int = 2, min_age_sec: float = 0.0,
        grace_max_versions: int = 8, spark: SparkSession | None = None,
    ) -> list[int]:
        """Retention knob for the copy-on-write version chain: delete
        version directories older than the newest `keep`, NEVER the
        current pointer's version (keep >= 1 enforced). Without pruning
        the chain keeps every published version — deliberate for replay
        audits, but under sustained churn that is O(batches) full-corpus
        copies, so the maintenance cycle calls this alongside the fold
        (the analog of Delta VACUUM / Iceberg expire_snapshots).
        Readers only ever open the pointer's version, so pruning behind
        `keep >= 2` leaves the previous version for any reader that
        resolved the pointer just before a publish (same single-writer
        maintenance contract as the other folds).

        `min_age_sec` adds a TIME grace on top of the count, measured
        from each version's SUPERSESSION (its successor directory's
        mtime — the moment it stopped being the version a new reader
        would resolve), NOT from its creation: a version that stayed
        current for an hour and was then superseded by a burst of
        publishes still gets the full grace, so a reader that resolved
        the pointer just before the burst cannot lose its files
        mid-scan (the Delta VACUUM retention-hours analog; r11 ADVICE).

        `grace_max_versions` HARD-CAPS how many below-floor versions
        the grace can protect (newest-superseded first): with a fast
        trigger every version is superseded seconds after birth and an
        uncapped grace would hold grace/trigger-interval FULL-CORPUS
        copies (300 at a 1 s trigger — the exact unbounded-storage
        failure the keep_versions default exists to prevent). The cap
        bounds steady-state storage at keep + grace_max_versions copies;
        a reader whose snapshot is more than grace_max_versions
        publishes old loses protection — the documented trade.

        Directories NEWER than the pointer (a crashed publish that
        never flipped) are left alone — the next publish overwrites
        them. `spark` is accepted for interface uniformity with
        subclasses that must touch the session catalog
        (BucketedTargetStore); the base prune is pure filesystem.
        Returns the pruned version numbers."""
        import shutil
        import time

        keep = max(1, keep)
        cur = self.current_version(table)
        if cur is None:
            return []
        floor = cur - keep + 1
        versions = self.versions_on_disk(table)
        candidates = [v for v in versions if v < floor]  # ascending
        if min_age_sec > 0.0 and candidates:
            cutoff = time.time() - min_age_sec

            def superseded_at(v: int) -> float:
                later = [w for w in versions if w > v]
                target = min(later) if later else v
                try:
                    return os.path.getmtime(
                        os.path.join(self.root, table, f"version={target}")
                    )
                except OSError:
                    return 0.0  # vanished/unreadable: treat as ancient

            protected = [v for v in candidates if superseded_at(v) > cutoff]
            allow = max(0, grace_max_versions)
            keep_protected = set(protected[-allow:]) if allow else set()
            candidates = [v for v in candidates if v not in keep_protected]
        pruned = []
        for v in candidates:
            pruned.append(v)
            shutil.rmtree(
                os.path.join(self.root, table, f"version={v}"),
                ignore_errors=True,
            )
        return pruned


class BucketedTargetStore(ParquetTargetStore):
    """Target store whose tables are hash-bucketed by primary key.

    The 100 TB merge shape: every micro-batch joins the (huge) target with a
    (rate-limited) update batch on the pk. With a plain parquet target, the
    target re-shuffles on every batch; bucketed by pk, the target side scans
    in place and ONLY the update batch moves — the per-batch network cost
    drops from O(|target|) to O(|batch|). Equivalent to the reference's
    `sortkey(pk)` CTAS decision (redshift_sink.py:498-501) re-expressed as
    Spark bucketing; production formats (Delta/Iceberg) express the same via
    clustering/sorted files.

    Bucketing metadata lives in the session catalog (`{table}__v{N}`
    external tables over the store's version directories).
    """

    def __init__(self, root: str, bucket_keys: dict[str, list[str]],
                 num_buckets: int = 32):
        super().__init__(root)
        self.bucket_keys = bucket_keys
        self.num_buckets = num_buckets

    def _catalog_name(self, table: str, version: int) -> str:
        return f"{table}__v{version}"

    def read(self, spark: SparkSession, table: str) -> DataFrame | None:
        v = self.current_version(table)
        if v is None:
            return None
        name = self._catalog_name(table, v)
        if table in self.bucket_keys and spark.catalog.tableExists(name):
            return spark.table(name)  # bucketed scan — no exchange on pk ops
        return super().read(spark, table)

    def _write_version(self, df: DataFrame, table: str, out: str, version: int) -> None:
        keys = self.bucket_keys.get(table)
        if keys is None:
            super()._write_version(df, table, out, version)
            return
        name = self._catalog_name(table, version)
        (
            df.write.mode("overwrite")
            .option("path", out)
            .bucketBy(self.num_buckets, *keys)
            .sortBy(*keys)
            .saveAsTable(name, format="parquet")
        )
        spark = df.sparkSession
        prev = self.current_version(table)
        if prev is not None:
            spark.sql(
                f"DROP TABLE IF EXISTS {self._catalog_name(table, prev)}"
            )

    def prune_versions(
        self, table: str, *, keep: int = 2, min_age_sec: float = 0.0,
        grace_max_versions: int = 8, spark: SparkSession | None = None,
    ) -> list[int]:
        pruned = super().prune_versions(
            table, keep=keep, min_age_sec=min_age_sec,
            grace_max_versions=grace_max_versions,
        )
        # publish already dropped the previous catalog entry; this only
        # clears entries a crashed publish left behind for pruned dirs.
        # The session comes from the CALLER: getActiveSession() is
        # thread-local through py4j and returns None from the worker
        # threads the maintenance pool runs prunes on (r11 ADVICE) —
        # relying on it here silently skipped exactly this cleanup in
        # the code path that does all the pruning.
        spark = spark or SparkSession.getActiveSession()
        if spark is not None:
            for v in pruned:
                spark.sql(
                    f"DROP TABLE IF EXISTS {self._catalog_name(table, v)}"
                )
        return pruned


class AppendLog:
    """Append-only parquet log with atomic per-batch commits — the state
    backend for streaming operators whose state GROWS (the dedup-ingest
    band index / sketch tables, streaming/dedup_ingest.py) where the
    versioned store's full republish would cost O(corpus) per batch, and
    each target store's delta log.

    Layout: `root/table/batch=<id>/` parquet per appended batch (and
    `seg=<n>/` per compaction) plus a `_manifest.json`, rewritten
    atomically (os.replace) AFTER the segment directory is fully
    written — readers only ever see committed directories, and a crash
    mid-write leaves an uncommitted directory that the retry overwrites
    in place (the batch directory is keyed by batch_id, so re-appending
    the same batch is idempotent). The manifest holds:
      * `batches`: the committed batch ids (the replay guard);
      * `segments`: the directories backing the table (legacy manifests
        derive one `batch=<id>` per batch);
      * `next_seg`: the next compaction segment number;
      * `schemas`: each listed segment's schema as written, all fields
        nullable (the version pointer's spelling), so `read` opens the
        segments without a schema-inference job; a segment without an
        entry falls back to inference.
    Per-ingest write cost is O(|batch|); the standing state is never
    rewritten. This is the minimal form of what a transactional
    table format (Delta/Iceberg) calls an append commit; at 100 TB the
    same tables map onto real format appends, and periodic compaction of
    small batch files rides `operators/layout.compact_table`'s shape.
    """

    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    def _manifest_path(self, table: str) -> str:
        return os.path.join(self.root, table, "_manifest.json")

    def _manifest(self, table: str) -> dict:
        try:
            with open(self._manifest_path(table)) as f:
                m = json.load(f)
            m["batches"]  # noqa: B018 - schema check
            return m
        except (FileNotFoundError, KeyError, json.JSONDecodeError):
            return {"batches": []}

    def committed(self, table: str) -> list:
        return self._manifest(table)["batches"]

    # -- single-writer maintenance marker (r10 verdict item #4) --------
    # Migrations and other swap-based maintenance document "run from the
    # maintenance cycle, not concurrently with process_batch"; the marker
    # turns that contract from prose into a refusal, and `check_fence`
    # catches a writer that ignored it. Swap-based maintenance brackets
    # its body with `maintenance(...)`. The marker is a file so it
    # fences SEPARATE PROCESSES too, and it is deliberately left behind
    # by a process death — and by a failure after the body's first
    # non-atomic swap (`hold()`): the safe direction is "ingest refuses
    # until the migration is re-run to completion" (the retry takes the
    # marker over with force=True and removes it on success), never
    # "ingest silently races a half-swapped layout".

    def _maintenance_path(self, scope: str) -> str:
        return os.path.join(self.root, f"{scope}__MAINTENANCE")

    @contextmanager
    def _marker_mutex(self, scope: str):
        """Exclusive flock around marker read-modify-write — without it
        begin_maintenance is check-then-replace and two SIMULTANEOUS
        begins of the same op both see "no marker" and both proceed
        (the exact two-live-runs race the nonce exists to prevent), and
        end_maintenance's read-check-remove could delete a marker that
        a force takeover swapped in between its check and its remove.
        flock is advisory and local-fs — the same single-host scope as
        the rest of AppendLog's atomicity (os.replace); a shared object
        store needs a conditional-put marker instead."""
        import fcntl

        os.makedirs(self.root, exist_ok=True)
        with open(self._maintenance_path(scope) + ".lock", "a") as lock:
            fcntl.flock(lock, fcntl.LOCK_EX)
            try:
                yield
            finally:
                fcntl.flock(lock, fcntl.LOCK_UN)

    def active_maintenance(self, scope: str) -> str | None:
        """The operation name of an in-flight (or crashed) maintenance
        run for `scope`, or None."""
        try:
            with open(self._maintenance_path(scope)) as f:
                return json.load(f).get("op") or "unknown"
        except FileNotFoundError:
            return None
        except (json.JSONDecodeError, OSError):
            return "unknown"

    def begin_maintenance(self, scope: str, op: str, *,
                          force: bool = False) -> str:
        """Take the maintenance marker for `scope` and return an
        ownership nonce (pass it to `end_maintenance`). ANY standing
        marker refuses — including the SAME operation: without owner
        identity a retry of a crashed run and a second LIVE concurrent
        run are indistinguishable, and two live runs both proceeding is
        exactly the clobber the marker exists to prevent (r11 ADVICE —
        e.g. two ann rebuilds both targeting version N+1, the first
        completer's end_maintenance resuming ingest under the second's
        half-swap). Crash recovery is therefore EXPLICIT: after
        confirming the prior run is dead, re-run the same op with
        `force=True` to take its marker over (the migrations' idempotent
        re-run contract). A DIFFERENT in-flight operation always
        refuses, force or not — its crashed state must be healed by ITS
        re-run first."""
        import uuid

        with self._marker_mutex(scope):
            current = self.active_maintenance(scope)
            if current is not None:
                if current != op:
                    raise RuntimeError(
                        f"maintenance {current!r} is already in flight (or "
                        f"crashed mid-run) on {scope!r}; re-run it to "
                        f"completion before starting {op!r}"
                    )
                if not force:
                    raise RuntimeError(
                        f"maintenance {op!r} is already in flight on "
                        f"{scope!r} — a second live run would race its swap."
                        " If the prior run crashed (its marker survives by"
                        " design), confirm it is dead and re-run with"
                        " force=True to take the marker over."
                    )
            nonce = f"{os.getpid()}-{uuid.uuid4().hex[:16]}"
            write_json_atomic(
                self._maintenance_path(scope),
                {"op": op, "nonce": nonce, "pid": os.getpid()},
            )
            return nonce

    def end_maintenance(self, scope: str, nonce: str | None = None) -> None:
        """Clear the maintenance marker. With a `nonce`, clear ONLY a
        marker this run owns: if the marker's nonce differs, this run
        was taken over (force=True) and removing the new owner's marker
        would resume ingest under ITS half-swap — raise instead.
        `nonce=None` is the unconditional clear, for crash-recovery
        tooling and legacy (pre-nonce) markers; in-engine callers always
        pass their nonce. Idempotent when no marker stands."""
        with self._marker_mutex(scope):
            if nonce is not None:
                try:
                    with open(self._maintenance_path(scope)) as f:
                        owner = json.load(f).get("nonce")
                except FileNotFoundError:
                    return
                except (json.JSONDecodeError, OSError):
                    owner = None  # unreadable/legacy marker: clearable
                if owner is not None and owner != nonce:
                    raise RuntimeError(
                        f"maintenance marker on {scope!r} is owned by "
                        "another run (this run was taken over with "
                        "force=True); refusing to clear the new owner's "
                        "marker"
                    )
            try:
                os.remove(self._maintenance_path(scope))
            except FileNotFoundError:
                pass

    @contextmanager
    def maintenance(self, scope: str, op: str, *, force: bool = False):
        """Hold `scope`'s maintenance marker for the body (see
        `begin_maintenance` for `force`). The marker is cleared on any
        exit, unless the body called the yielded `hold()` and then
        failed: a run that has begun a multi-table swap leaves the marker
        standing, so ingest stays refused until a force=True re-run
        heals the state."""
        nonce = self.begin_maintenance(scope, op, force=force)
        held = []
        try:
            yield lambda: held.append(True)
        except BaseException:
            if not held:
                self.end_maintenance(scope, nonce)
            raise
        self.end_maintenance(scope, nonce)

    def check_fence(self, fence: dict) -> None:
        """Single-writer fence for state derived from an earlier read:
        refuse unless every `{table: committed ids}` entry still
        matches. A batch committed since the read would be clobbered by
        a swap of the derived state — its data AND its replay-guard
        id."""
        for table, ids in fence.items():
            found = self.committed(table)
            if found != list(ids):
                raise RuntimeError(
                    f"a concurrent batch committed to {table!r} since the "
                    f"state was read (committed batches changed: expected "
                    f"{list(ids)}, found {found}) — state is unchanged; "
                    "stop the ingest and re-run the maintenance"
                )

    def check_no_maintenance(self, scope: str) -> None:
        """Ingest-side guard: refuse to append state while a maintenance
        marker stands — a batch committed between a migration's state
        read and its atomic swap would be silently clobbered by the
        swap (data AND replay-guard id), the worst kind of loss."""
        op = self.active_maintenance(scope)
        if op is not None:
            raise RuntimeError(
                f"state {scope!r} has maintenance {op!r} in flight (or "
                "crashed mid-run): ingest would race its atomic swap and "
                "lose this batch. Re-run the migration to completion "
                "(its retry is idempotent and clears the marker), then "
                "retry the batch."
            )

    @staticmethod
    def _segments(m: dict) -> list:
        return m.get("segments", [f"batch={b}" for b in m["batches"]])

    def segments(self, table: str) -> list:
        """Storage directory names backing the table. Distinct from
        `committed`: compaction merges segments but NEVER forgets batch
        ids — `has_batch` (the replay guard) must survive maintenance,
        the lesson of the r5 compaction/replay bug. Legacy manifests
        (pre-segments) derive one segment per batch."""
        return self._segments(self._manifest(table))

    def has_batch(self, table: str, batch_id) -> bool:
        return batch_id in self.committed(table)

    def append(self, df: DataFrame, table: str, batch_id) -> None:
        """Write `df` as `table`'s delta for `batch_id` and commit it.
        Idempotent per batch_id: a replayed append overwrites the same
        directory and the manifest add is a set-insert."""
        if self.has_batch(table, batch_id):
            return
        seg = f"batch={batch_id}"
        df.write.mode("overwrite").parquet(os.path.join(self.root, table, seg))
        m = self._manifest(table)
        m["segments"] = self._segments(m) + [seg]
        m["batches"] = m["batches"] + [batch_id]
        m.setdefault("schemas", {})[seg] = _schema_json(df)
        write_json_atomic(self._manifest_path(table), m)

    def read(self, spark: SparkSession, table: str,
             segments=None) -> DataFrame | None:
        """Union of all committed data, or of just the listed `segments`
        (None before the first commit). Uncommitted/partial directories
        are invisible: the reader lists the manifest's segments, not the
        filesystem. When every segment read recorded the same schema the
        scan opens with it; otherwise (a legacy segment, or schemas that
        differ across segments) parquet infers it."""
        m = self._manifest(table)
        segs = self._segments(m) if segments is None else list(segments)
        if not segs:
            return None
        schemas = m.get("schemas", {})
        schema = schemas.get(segs[0])
        reader = spark.read
        if schema is not None and all(schemas.get(s) == schema for s in segs):
            reader = reader.schema(T.StructType.fromJson(schema))
        return reader.parquet(
            *(os.path.join(self.root, table, s) for s in segs)
        )

    def compact(
        self, spark: SparkSession, table: str, *, min_segments: int = 8,
        transform=None, expect_batches=None,
    ) -> int | None:
        """Merge all storage segments into one, WITHOUT forgetting batch
        ids — `has_batch` answers identically before and after, so
        replays delivered after maintenance are still skipped (the
        append-state analog of publish() carrying batch_id forward
        through compact_table). Returns the number of segments merged,
        or None below the `min_segments` floor.

        `transform` (df -> df), applied to the union before the merged
        segment is written, lets maintenance REWRITE state while it
        merges — the tombstone fold (streaming/tombstones.TombstoneSet.fold)
        drops dead rows here. With a transform the floor drops to 1: a
        single-segment table still needs its rewrite applied.

        Atomicity: the merged directory is fully written under a name
        the manifest doesn't yet reference, then the manifest swaps in
        one os.replace; a crash in between leaves an orphan directory
        that is invisible to readers and overwritten by the retry (the
        seg counter only advances on commit). Old directories are
        deleted best-effort after the swap.

        `expect_batches` is the single-writer fence for REPLACEMENT
        rewrites (a migration computed `transform`'s output from state
        it read earlier): the swap refuses if the committed batch ids no
        longer match, because writing the replacement would silently
        clobber the concurrently-appended batch — its data reference
        AND its replay-guard id."""
        import shutil

        if expect_batches is not None:
            self.check_fence({table: expect_batches})
        m = self._manifest(table)
        segs = self._segments(m)
        # floor of 2: a single segment is already compact — re-merging it
        # every maintenance cycle would be pure rewrite churn
        floor = 1 if transform is not None else 2
        if len(segs) < max(floor, min_segments):
            return None
        n = m.get("next_seg", 0)
        out = os.path.join(self.root, table, f"seg={n}")
        df = self.read(spark, table)
        if transform is not None:
            df = transform(df)
        df.write.mode("overwrite").parquet(out)
        # pre-swap recheck: the union/rewrite above can run for minutes;
        # an append that committed meanwhile is in neither the merged
        # segment nor the manifest this swap would install — refuse
        # rather than clobber it (the marker API makes well-behaved
        # writers refuse first; this catches the rest up to the final
        # os.replace). State is unchanged on refusal: re-run.
        cur = self._manifest(table)
        if cur["batches"] != m["batches"] or self._segments(cur) != segs:
            raise RuntimeError(
                f"compact({table!r}): a concurrent append committed "
                "during the rewrite (manifest changed under the swap); "
                "state is unchanged — re-run the maintenance"
            )
        m["segments"] = [f"seg={n}"]
        m["next_seg"] = n + 1
        m["schemas"] = {f"seg={n}": _schema_json(df)}  # merged ones drop
        write_json_atomic(self._manifest_path(table), m)
        for s in segs:
            shutil.rmtree(
                os.path.join(self.root, table, s), ignore_errors=True
            )
        return len(segs)

    def retire(self, table: str, batch_ids) -> None:
        """Drop `batch_ids` from the committed manifest (their data has
        been folded into some base representation). The manifest rewrite
        is atomic; the retired directories are deleted best-effort
        afterwards (an orphan dir is invisible to readers either way).
        NOTE: a retired batch_id is forgotten, so a replay delivered
        AFTER the fold re-appends it — safe only when re-applying the
        batch over its own folded effect is a no-op (true for merge-on-
        read resolution, where the replayed delta carries exactly the
        rows the base already absorbed and "latest wins" re-picks them);
        callers without that property must keep their own replay guard
        spanning the fold."""
        import shutil

        m = self._manifest(table)
        segs = self._segments(m)
        gone = [b for b in batch_ids if f"batch={b}" not in segs]
        if gone:
            # a compacted segment can't give individual batches back —
            # fold-then-retire state (MoR deltas) must never also be
            # compact()-maintained; surface the conflict loudly
            raise ValueError(
                f"cannot retire batches folded into a compacted segment: {gone}"
            )
        drop = {f"batch={b}" for b in batch_ids}
        m["batches"] = [b for b in m["batches"] if b not in set(batch_ids)]
        m["segments"] = [s for s in segs if s not in drop]
        schemas = m.get("schemas", {})
        m["schemas"] = {s: schemas[s] for s in m["segments"] if s in schemas}
        write_json_atomic(self._manifest_path(table), m)
        for b in batch_ids:
            shutil.rmtree(
                os.path.join(self.root, table, f"batch={b}"),
                ignore_errors=True,
            )


class MergeOnReadTargetStore(ParquetTargetStore):
    """Keyed target store with MERGE-ON-READ publishes — the scale answer
    to the one O(|target|) cost left in the streaming hot path.

    The base store is copy-on-write for keyed tables: every micro-batch
    rewrites the whole target, so batch cost grows with the TABLE, not
    the batch. Here a batch instead commits its LWW-deduped changelog
    (`publish_delta`) or its raw SCD2 events (`publish_scd2_delta`) as a
    delta, O(|batch|) written, and `read` resolves base ∪ deltas lazily;
    bookkeeping columns (`_BOOK`) never surface. `fold_deltas` pays the
    copy-on-write cost once per N batches instead of every batch — the
    copy-on-write vs merge-on-read trade a transactional table format
    (Hudi/Iceberg/Delta) exposes, under the same atomic-pointer publish.

    Read cost is bounded by the deltas since the last fold (cap it with
    the job's `compact_every_n_batches`, plus the delta-count backstop
    `max_deltas_before_fold`). Schema evolution: added columns appear at
    read via null-filled alignment; a DROPPED column disappears only when
    a fold materializes the narrower schema.
    """

    _DELTA_DIR = "_delta"
    _BOOK = ("op", "ts_ms", "data_index_aws")

    def publish_delta(
        self, updates: DataFrame, table: str, batch_id, *,
        keys, skip_delete: bool = False,
    ) -> None:
        """Append one batch's LWW-deduped changelog (payload + op [+ order
        cols]). Idempotent per batch_id; O(|batch|) written. Keyed-merge
        resolution is replay-idempotent even WITHOUT a guard (latest-wins
        re-picks identical winners over its own folded effect), but the
        fold-spanning `has_applied` check still skips the pointless
        re-append of a just-folded batch."""
        self._ensure_config(
            table,
            {"kind": "merge", "keys": list(keys),
             "skip_delete": bool(skip_delete)},
        )
        if not self.has_applied(table, batch_id):
            self._delta.append(updates, table, batch_id)

    def publish_scd2_delta(
        self, events: DataFrame, table: str, batch_id, *,
        keys, order_col: str = "ts_ms", tiebreak_cols=(),
    ) -> None:
        """SCD2 history under merge-on-read: append the batch's RAW
        changelog events (every intermediate state is a version, so the
        delta is the events themselves, not an LWW reduction). `read`
        resolves with ONE `scd2_merge_batch(base, union(deltas))` —
        applying consecutive batches in one call equals applying them
        sequentially (both equal the full `scd2_history` rebuild; the
        property tests pin the split-invariance this relies on). The
        per-batch cost of the copy-on-write path — read the whole
        history, close, append, republish — becomes O(|batch|) written.
        Replay-guarded by `has_applied`, which spans folds."""
        self._ensure_config(
            table,
            {"kind": "scd2", "keys": list(keys), "order_col": order_col,
             "tiebreak": list(tiebreak_cols)},
        )
        if not self.has_applied(table, batch_id):
            self._delta.append(events, table, batch_id)

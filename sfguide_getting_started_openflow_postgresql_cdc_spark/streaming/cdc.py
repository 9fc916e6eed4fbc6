"""CDC core: snapshot bootstrap, keyed upsert merge with soft deletes,
append-only journal, Structured Streaming wrapper.

This is the engine's re-expression of the reference's OpenFlow connector
contract (SURVEY.md §2.I, §3 entry 2):

- I1  snapshot  -> replica tables created with ``_SNOWFLAKE_INSERTED_AT``
                   stamped, ``_SNOWFLAKE_UPDATED_AT`` NULL,
                   ``_SNOWFLAKE_DELETED`` FALSE
                   (sql/2.verify_snapshot.sql:41-49).
- I2  INSERT    -> new row appended, inserted_at = sync ts.
- I3  UPDATE    -> in-place upsert by PK, updated_at = sync ts
                   (sql/4.analytics_queries.sql:374-390).
- I4  DELETE    -> SOFT delete: row retained, deleted flag set
                   (sql/3.live_appointments.sql:18,413).
- I5  cadence   -> micro-batch per sync interval
                   (sql/3.live_appointments.sql:48-49).
- I6  journal   -> every raw event appended to a queryable per-table log
                   (sql/3.live_appointments.sql:414).

Design for scale
----------------
Plain parquet has no MERGE, so each replica is a set of ``v<N>``
version directories behind a pointer file, committed through the
package's one versioned-state protocol (``versioned.py``: write the new
version, durably replace the pointer, retire by the committed version).
Each version is PARTITIONED BY a PK hash bucket
(``_CDC_BUCKET = pmod(xxhash64(pk), n_buckets)``): a merge rewrites only
the buckets that contain changed keys and hard-links every untouched
bucket's files from the previous version — copy-on-write at bucket
granularity, NOT table granularity. At 100 TB with thousands of buckets
a 1-minute sync interval rewrites only the few GB its keys actually
touch; the whole-table rewrite this replaces cannot ship 100 TB/minute.
Every committed version stays a complete snapshot, so consumers such as
the MVs (``streaming/mv.py``) difference a batch by reading its keys at
the version before and the version after the merge (time travel).

The merge itself is pure DataFrame algebra:

1. reduce the batch to the LATEST event per PK
   (``row_number() over (partition by pk order by seq_no desc)``);
2. guard every row with a stored per-row version (``_CDC_SEQ``): an
   event lands only if its ``seq_no`` beats the row's current version.
   This makes the merge idempotent under at-least-once ``foreachBatch``
   replay AND correct under out-of-order micro-batch delivery (global
   file/offset ordering is not guaranteed in a distributed source);
3. ``replica LEFT JOIN broadcast(latest)`` applies updates/soft-deletes
   without shuffling the replica — at 100 TB the big side streams
   map-side past a broadcast of the (small) per-interval change set;
4. ``latest ANTI JOIN replica-keys`` yields brand-new rows to append.

When a batch is genuinely huge (initial backfill), drop the broadcast
hint via ``broadcast_threshold_rows``; Catalyst then plans a shuffle
join, and a PK-bucketed replica layout keeps it co-located.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from typing import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from sfguide_getting_started_openflow_postgresql_cdc_spark import schemas, versioned

# Raw JSONL change-event envelope: ``after`` is a string map so one
# schema carries every table's events; per-table projection casts each
# field to its declared type (schemas.py).
# Internal per-row version column stored in replica parquet (not part of
# the user-facing contract; stripped from registered views): highest
# seq_no applied to the row, the guard that makes merges idempotent and
# reorder-safe.
CDC_SEQ = "_CDC_SEQ"
# Partition column of the replica layout: pmod(xxhash64(pk), n_buckets).
# xxHash64 is a fixed, documented algorithm (seed 42 in Spark) — the
# bucket of a key is stable across sessions, versions, and cluster sizes.
CDC_BUCKET = "_CDC_BUCKET"

ENVELOPE = T.StructType(
    [
        T.StructField("seq_no", T.LongType(), False),
        T.StructField("event_ts", T.StringType(), False),
        T.StructField("table_name", T.StringType(), False),
        T.StructField("op", T.StringType(), False),
        T.StructField("after", T.MapType(T.StringType(), T.StringType()), True),
    ]
)


class ReplicaStore:
    """Versioned, PK-hash-bucketed parquet replica tables, committed
    through ``versioned.py``.

    Layout::

        root/tables/<table>/v<N>/_CDC_BUCKET=<i>/*.parquet
        root/tables/<table>/_POINTER.json
            {"version": N, "watermark": seq, "n_buckets": B, "schema": ...,
             "watermarks": {retained version: its watermark}}
        root/journal/<table>/*.parquet      (append-only event log)

    Readers resolve the pointer, so a crash mid-write never exposes a
    half-written version, and the retried write overwrites the orphan.
    The watermark records the highest applied ``seq_no`` and never goes
    backwards. A merge writes ONLY the buckets containing changed keys
    into the new version and hard-links every other bucket's files from
    the previous version (same inode, zero bytes copied) — version
    retirement is safe because links keep the shared inodes alive.
    ``version()`` names the committed version; ``read`` and
    ``read_buckets`` time-travel to any of the ``keep_versions``
    retained ones.
    """

    def __init__(self, root: str, keep_versions: int = 2):
        if keep_versions < 2:
            raise ValueError("keep_versions >= 2 (current + 1 for in-flight readers)")
        self.root = root
        self.keep_versions = keep_versions
        os.makedirs(os.path.join(root, "tables"), exist_ok=True)
        os.makedirs(os.path.join(root, "journal"), exist_ok=True)

    # -- pointer ----------------------------------------------------------
    def _table_dir(self, table: str) -> str:
        return os.path.join(self.root, "tables", table)

    def _pointer_path(self, table: str) -> str:
        return os.path.join(self._table_dir(table), "_POINTER.json")

    def _pointer(self, table: str) -> dict:
        try:
            with open(self._pointer_path(table)) as f:
                return json.load(f)
        except FileNotFoundError:
            return {"version": -1, "watermark": -1, "n_buckets": 0}

    def watermark(self, table: str) -> int:
        return int(self._pointer(table)["watermark"])

    def version(self, table: str) -> int:
        """Committed version number (-1 before bootstrap)."""
        return int(self._pointer(table)["version"])

    def n_buckets(self, table: str) -> int:
        return int(self._pointer(table).get("n_buckets", 0))

    def table_path(self, table: str, version: int | None = None) -> str:
        ptr = self._pointer(table)
        if ptr["version"] < 0:
            raise FileNotFoundError(f"replica '{table}' not bootstrapped")
        v = ptr["version"] if version is None else version
        path = os.path.join(self._table_dir(table), f"v{v}")
        if version is not None and not os.path.isdir(path):
            raise FileNotFoundError(
                f"replica '{table}' version {version} retired or never written "
                f"(retained: {self.versions(table)})"
            )
        return path

    def version_watermarks(self, table: str) -> dict[int, int]:
        """{version: watermark} for every RETAINED version — the map that
        lets readers time-travel by watermark instead of version number.
        Each commit records it in the pointer, so a crashed writer's
        orphan version never appears in it."""
        ptr = self._pointer(table)
        if ptr["version"] < 0:
            return {}
        recorded = ptr.get("watermarks", {str(ptr["version"]): ptr["watermark"]})
        return {int(v): int(wm) for v, wm in recorded.items()}

    def version_at_watermark(self, table: str, max_watermark: int) -> int:
        """Newest retained version whose watermark <= max_watermark."""
        candidates = [
            v for v, wm in self.version_watermarks(table).items()
            if wm <= max_watermark
        ]
        if not candidates:
            raise FileNotFoundError(
                f"no retained version of '{table}' at watermark <= "
                f"{max_watermark} (retained: {self.version_watermarks(table)})"
            )
        return max(candidates)

    def versions(self, table: str) -> list[int]:
        """Retained version numbers, oldest first (time-travel targets)."""
        return versioned.versions(self._table_dir(table))

    def _stored_schema(self, table: str) -> T.StructType | None:
        raw = self._pointer(table).get("schema")
        return T.StructType.fromJson(json.loads(raw)) if raw else None

    # -- io ----------------------------------------------------------------
    def _reader(self, spark: SparkSession, table: str):
        # Explicit schema from the pointer: no footer-based inference
        # (listing footers of a 100 TB replica just to learn the schema
        # is wasted I/O) and empty replicas — a bootstrapped table with
        # zero rows writes no data files — stay readable.
        schema = self._stored_schema(table)
        return spark.read.schema(schema) if schema is not None else spark.read

    def read(
        self, spark: SparkSession, table: str, version: int | None = None
    ) -> DataFrame:
        """Replica state (bucket column stripped). ``version`` time-travels
        to a retained older version — every version is a complete
        snapshot (unchanged buckets are hard-linked, not omitted), so an
        old version reads exactly like the current one. Retention is
        ``keep_versions`` (AS OF by version number; map sync timestamps
        to versions via the pointer's ``written_at`` if needed)."""
        return (
            self._reader(spark, table)
            .parquet(self.table_path(table, version))
            .drop(CDC_BUCKET)
        )

    def read_buckets(
        self,
        spark: SparkSession,
        table: str,
        buckets: list[int],
        version: int | None = None,
    ) -> DataFrame:
        """Only the named buckets (of ``version``, default current) — the
        filter prunes whole partition directories at the source listing,
        so a merge never scans the untouched part of the replica."""
        df = self._reader(spark, table).parquet(self.table_path(table, version))
        return df.filter(F.col(CDC_BUCKET).isin(buckets)).drop(CDC_BUCKET)

    def _publish(self, table: str, version: int, watermark: int, **fields) -> None:
        """Commit the pointer to ``v<version>`` (``fields`` override
        pointer entries such as the schema), then retire versions beyond
        ``keep_versions`` (current + in-flight readers + time-travel
        targets). The pointer carries the retained versions' watermarks."""
        wms = {**self.version_watermarks(table), version: watermark}
        retained = sorted(wms)[-self.keep_versions:]
        versioned.commit(
            self._pointer_path(table),
            {
                **self._pointer(table),
                "version": version,
                "watermark": watermark,
                "watermarks": {str(v): wms[v] for v in retained},
                **fields,
                "written_at": time.time(),
            },
        )
        versioned.retire(self._table_dir(table), version, self.keep_versions)

    def update_schema(self, table: str, schema: T.StructType) -> None:
        """Re-point the stored read schema without touching data files
        (ADD COLUMN evolution: files written before the change simply
        lack the column, and an explicit-schema parquet read yields NULL
        for it — a metadata-only operation at any data scale)."""
        ptr = self._pointer(table)
        if ptr["version"] < 0:
            raise FileNotFoundError(f"replica '{table}' not bootstrapped")
        versioned.commit(
            self._pointer_path(table),
            {**ptr, "schema": json.dumps(schema.jsonValue())},
        )

    def write_full(
        self,
        spark: SparkSession,
        table: str,
        df: DataFrame,
        watermark: int,
        n_buckets: int,
    ) -> None:
        """Write a complete new version (bootstrap / bucket-count change).
        ``df`` must carry the ``_CDC_BUCKET`` column."""
        new_version = self.version(table) + 1
        df.write.mode("overwrite").partitionBy(CDC_BUCKET).parquet(
            os.path.join(self._table_dir(table), f"v{new_version}")
        )
        self._publish(
            table,
            new_version,
            watermark,
            n_buckets=n_buckets,
            schema=json.dumps(df.schema.jsonValue()),
        )

    def write_merged(
        self,
        spark: SparkSession,
        table: str,
        changed_df: DataFrame,
        changed_buckets: list[int],
        watermark: int,
    ) -> None:
        """Write a new version that materializes ``changed_df`` (which
        must cover exactly ``changed_buckets`` and carry ``_CDC_BUCKET``)
        and hard-links every other bucket directory from the current
        version — the copy-on-write path a 1-minute sync interval takes.
        The committed watermark never goes backwards: a batch of only
        late events keeps the previous one.

        On a distributed filesystem without hard links the same contract
        is 'reference the previous version's files in the new manifest'
        (Iceberg/Delta-style); link-or-copy is the local-FS expression."""
        ptr = self._pointer(table)
        if ptr["version"] < 0:
            raise FileNotFoundError(f"replica '{table}' not bootstrapped")
        new_version = ptr["version"] + 1
        out = os.path.join(self._table_dir(table), f"v{new_version}")
        changed_df.write.mode("overwrite").partitionBy(CDC_BUCKET).parquet(out)
        versioned.link_unchanged(
            self.table_path(table), out, f"{CDC_BUCKET}=", changed_buckets
        )
        self._publish(table, new_version, max(int(ptr["watermark"]), watermark))

    def journal_path(self, table: str) -> str:
        return os.path.join(self.root, "journal", table)

    def read_journal(
        self,
        spark: SparkSession,
        table: str,
        dedup: bool = False,
        pk: str | None = None,
    ) -> DataFrame:
        """Raw append-only event log. ``dedup=True`` drops the duplicate
        events an at-least-once foreachBatch retry can append (exact
        replays share seq_no) — use it for counts/SCD2-style reads.

        Pass ``pk`` to dedup on ``[seq_no, pk]`` — required for journals
        written with ``bootstrap(journal_snapshot=True)``, where every
        snapshot row shares ``seq_no=0`` and a seq-only dedup would
        collapse the whole snapshot to one row. Without ``pk``, seq-0
        snapshot rows are exempted from the seq-only dedup for the same
        reason (live change events always carry seq_no > 0)."""
        df = spark.read.parquet(self.journal_path(table))
        if not dedup:
            return df
        if pk is not None:
            return df.dropDuplicates(["seq_no", pk])
        snapshot_rows = df.filter(F.col("seq_no") == 0)
        live = df.filter(F.col("seq_no") != 0).dropDuplicates(["seq_no"])
        return snapshot_rows.unionByName(live)


class ConsistentSnapshot(dict):
    """``dict[table -> DataFrame]`` from ``CdcEngine.consistent_snapshot``,
    annotated with the common ``watermark`` it was pinned to and the set of
    table names that could not be served at that watermark and ``fallbacks``
    to their current version instead (empty = strictly consistent)."""

    def __init__(self, frames: dict, watermark: int, fallbacks: Iterable[str] = ()):
        super().__init__(frames)
        self.watermark = watermark
        self.fallbacks = frozenset(fallbacks)


class CdcEngine:
    """Snapshot + incremental CDC maintenance for a set of keyed tables."""

    def __init__(
        self,
        store: ReplicaStore,
        tables: dict[str, T.StructType] | None = None,
        primary_keys: dict[str, str] | None = None,
        broadcast_threshold_rows: int = 5_000_000,
        write_partitions: int | None = None,
        n_buckets: int = 16,
        auto_compact_max_files: int | None = None,
        journal_retain_seqs: int = 10_000,
        access=None,
    ):
        self.store = store
        # optional AccessControl (access.py): when set, jdbc: bootstrap
        # sources must be covered by an EGRESS network rule (A18 twin)
        self.access = access
        self.tables = tables or schemas.HEALTHCARE_TABLES
        self.primary_keys = primary_keys or schemas.PRIMARY_KEYS
        self.broadcast_threshold_rows = broadcast_threshold_rows
        # Output-file sizing: None lets AQE pick; small reference-scale
        # tables should pass 1 to avoid a spray of KB-sized files. At
        # cluster scale, size so files land ~128 MB-1 GB each.
        self.write_partitions = write_partitions
        # Replica layout granularity: a merge rewrites only buckets whose
        # keys changed. Size so one bucket ~ a few GB at the target scale
        # (100 TB -> tens of thousands of buckets); 16 keeps the tiny
        # test fixtures from spraying directories.
        self.n_buckets = n_buckets
        # Journal hygiene under streaming: each micro-batch appends
        # files, so a 1-minute sync leaves ~1440 files/table/day. When
        # set, apply_envelope_batch compacts any journal whose file
        # count exceeds the threshold, keeping the last
        # journal_retain_seqs sequence numbers verbatim (full SCD2
        # fidelity inside the retention window).
        self.auto_compact_max_files = auto_compact_max_files
        self.journal_retain_seqs = journal_retain_seqs

    def _bucket(self, pk: str):
        return F.pmod(F.xxhash64(F.col(pk)), F.lit(self.n_buckets)).cast("int")

    # -- I1: snapshot bootstrap --------------------------------------------
    def bootstrap(
        self,
        spark: SparkSession,
        source: dict[str, DataFrame | str],
        load_ts: str,
        journal_snapshot: bool = True,
    ) -> None:
        """Initial full copy: replica = source + metadata columns
        (connector contract, sql/1.snowflake_setup.sql:47-49).

        Source values may be DataFrames, parquet paths, or ``jdbc:`` URLs
        (the reference's actual entry point is a live PostgreSQL —
        sql/0.init_healthcare.sql); string sources resolve through
        ``sources.loader.load_snapshot_source`` with this engine's
        declared schema (types never inferred from the remote catalog).

        ``journal_snapshot`` also writes the snapshot into the journal as
        seq-0 'I' events so the SCD2 history (:meth:`scd2_history`) covers
        every row from its first known version, not just live changes.
        """
        from sfguide_getting_started_openflow_postgresql_cdc_spark.sources.loader import (
            load_snapshot_source,
        )

        source = {
            table: load_snapshot_source(
                spark, src, table, self.tables[table], access=self.access
            )
            for table, src in source.items()
        }
        for table, df in source.items():
            replica = (
                df.withColumn(
                    schemas.META_INSERTED_AT, F.lit(load_ts).cast("timestamp_ntz")
                )
                .withColumn(
                    schemas.META_UPDATED_AT, F.lit(None).cast("timestamp_ntz")
                )
                .withColumn(schemas.META_DELETED, F.lit(False))
                .withColumn(CDC_SEQ, F.lit(-1).cast("long"))
                .withColumn(CDC_BUCKET, self._bucket(self.primary_keys[table]))
            )
            if self.write_partitions:
                replica = replica.coalesce(self.write_partitions)
            else:
                replica = replica.repartition(self.n_buckets, F.col(CDC_BUCKET))
            self.store.write_full(
                spark, table, replica, watermark=-1, n_buckets=self.n_buckets
            )
            if journal_snapshot:
                snap_events = df.select(
                    F.lit(0).cast("long").alias("seq_no"),
                    F.lit(load_ts).cast("timestamp_ntz").alias("event_ts"),
                    F.lit("I").alias("op"),
                    *[F.col(f.name) for f in self.tables[table].fields],
                )
                if self.write_partitions:
                    snap_events = snap_events.coalesce(self.write_partitions)
                snap_events.write.mode("append").parquet(
                    self.store.journal_path(table)
                )

    # -- schema evolution ----------------------------------------------------
    @staticmethod
    def _is_widening(old: "T.DataType", new: "T.DataType") -> bool:
        """True when a parquet file written with ``old`` reads correctly
        under a read schema declaring ``new`` (metadata-only type
        widening, r10 verdict task 9 — verified against the Spark 4
        vectorized reader's widening promotions): the integral upcast
        chain, float->double, byte/short/int->double, and decimal
        growth where neither the scale nor the integral-digit budget
        shrinks.
        Everything else — every narrowing, string/binary changes,
        date/timestamp changes — is a rewrite, not an evolution."""
        integral = (T.ByteType(), T.ShortType(), T.IntegerType(), T.LongType())
        if old in integral:
            if new in integral:
                return integral.index(old) < integral.index(new)
            # long -> double is EXCLUDED (r11 review): the parquet
            # reader refuses INT64 data under a double read schema
            # (probed: PARQUET_COLUMN_DATA_TYPE_MISMATCH), and even a
            # converting reader would silently corrupt values > 2^53
            return isinstance(new, T.DoubleType) and not isinstance(
                old, T.LongType
            )
        if isinstance(old, T.FloatType):
            return isinstance(new, T.DoubleType)
        if isinstance(old, T.DecimalType) and isinstance(new, T.DecimalType):
            return (
                new.scale >= old.scale
                and new.precision - new.scale >= old.precision - old.scale
                and (new.precision, new.scale)
                != (old.precision, old.scale)
            )
        return False

    def evolve_schema(self, table: str, new_schema: T.StructType) -> None:
        """ADD COLUMN + TYPE-WIDENING schema evolution (source ran
        ``ALTER TABLE ADD`` or widened a column; the connector contract
        keeps replicating — OpenFlow handles this transparently, so
        must we).

        Metadata-only: existing replica files are untouched; the
        pointer's read schema gains the new nullable fields (read as
        NULL from pre-evolution files) and/or the widened types (the
        parquet reader upcasts pre-widening files at scan time —
        int->long, float/integral->double, decimal precision/scale
        growth that keeps every old value representable; see
        ``_is_widening``). Subsequent merges project events at the new
        types and write rewritten buckets with them, so a replica mixes
        old-typed and new-typed files under one read schema.
        Constraints: new fields must be nullable, existing fields may
        only WIDEN (narrowing at 100 TB is a rewrite, not a metadata
        change — and silently truncating values is never acceptable),
        drops are not allowed (soft-deprecate by ignoring the column
        instead)."""
        old = self.tables[table]
        old_by_name = {f.name: f for f in old.fields}
        new_names = {f.name for f in new_schema.fields}
        missing = [n for n in old_by_name if n not in new_names]
        if missing:
            raise ValueError(f"schema evolution cannot drop columns: {missing}")
        added = []
        widened = []
        for f in new_schema.fields:
            if f.name in old_by_name:
                old_t = old_by_name[f.name].dataType
                if f.dataType != old_t:
                    if not self._is_widening(old_t, f.dataType):
                        raise ValueError(
                            f"schema evolution cannot change {f.name!r}: "
                            f"{old_t} -> {f.dataType} is not a metadata-"
                            "only widening"
                        )
                    widened.append(f)
            else:
                if not f.nullable:
                    raise ValueError(f"added column {f.name!r} must be nullable")
                added.append(f)
        self.tables[table] = new_schema
        if not added and not widened:
            return
        stored = self.store._stored_schema(table)
        if stored is not None:
            widened_by_name = {f.name: f.dataType for f in widened}
            internal = {CDC_SEQ, CDC_BUCKET}
            user = [
                T.StructField(
                    f.name,
                    widened_by_name.get(f.name, f.dataType),
                    f.nullable,  # widening never changes nullability
                )
                for f in stored.fields
                if f.name not in internal
            ]
            tail = [f for f in stored.fields if f.name in internal]
            # new fields append just before the internal columns so
            # user columns stay contiguous in the read schema
            self.store.update_schema(table, T.StructType(user + added + tail))

    # -- event parsing -------------------------------------------------------
    def project_after(self, events: DataFrame, table: str) -> DataFrame:
        """Cast the string-map ``after`` payload to the table's declared
        types; keeps envelope columns (seq_no, event_ts, op).

        Payload casts are ``try_cast``: a malformed producer value lands
        as NULL (quarantine-able downstream) instead of failing the whole
        micro-batch under ANSI mode. Envelope fields stay strict — a
        broken seq_no/event_ts means the transport itself is corrupt."""
        schema = self.tables[table]
        cols = [
            F.element_at(F.col("after"), f.name).try_cast(f.dataType).alias(f.name)
            for f in schema.fields
        ]
        return events.select(
            F.col("seq_no"),
            F.col("event_ts").cast("timestamp_ntz").alias("event_ts"),
            F.col("op"),
            *cols,
        )

    # -- I2-I4: keyed upsert merge with soft delete ---------------------------
    def merge_batch(
        self,
        spark: SparkSession,
        table: str,
        events: DataFrame,
        sync_ts: str | None = None,
    ) -> None:
        """Apply one sync interval's events for one table.

        ``events``: raw envelope rows (already filtered to this table) OR
        pre-projected rows from :meth:`project_after`.
        """
        if "after" in events.columns:
            events = self.project_after(events, table)
        pk = self.primary_keys[table]
        # A malformed payload whose PK fails try_cast lands as NULL; a
        # NULL key never matches the anti join against replica keys and
        # would be re-appended as a garbage row on every batch. Drop such
        # events from the merge — the raw journal (appended before the
        # merge) retains them for quarantine/inspection.
        # Unknown ops are likewise quarantined-not-applied: treating a
        # corrupt op byte as an upsert would materialize garbage state.
        events = events.filter(
            F.col(pk).isNotNull() & F.col("op").isin("I", "U", "D")
        )

        stats = events.agg(
            F.count("*").alias("n"),
            F.max("seq_no").alias("max_seq"),
            F.max("event_ts").alias("max_ts"),
            F.collect_set(self._bucket(pk)).alias("buckets"),
        ).collect()[0]
        if stats["n"] == 0:
            return
        # Buckets whose keys appear in this batch — the ONLY part of the
        # replica this merge reads or rewrites (bounded by n_buckets, so
        # the driver-side list stays tiny at any scale).
        changed_buckets = sorted(stats["buckets"])
        stored_buckets = self.store.n_buckets(table)
        if stored_buckets != self.n_buckets:
            raise ValueError(
                f"replica '{table}' is bucketed {stored_buckets}-way but the "
                f"engine is configured for {self.n_buckets}; re-bootstrap to "
                "change bucket counts"
            )
        # Deterministic sync timestamp: the batch's newest commit ts
        # (reference stamps rows with the sync time; using event time keeps
        # replays byte-identical).
        sync_col = (
            F.lit(sync_ts).cast("timestamp_ntz")
            if sync_ts
            else F.lit(stats["max_ts"]).cast("timestamp_ntz")
        )

        # latest event per PK wins within the interval (SURVEY.md §3:
        # row_number over seq_no desc).
        w = Window.partitionBy(pk).orderBy(F.col("seq_no").desc())
        latest = (
            events.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        # broadcast only the probe side of the left join (anti join below
        # builds on the right side, where the hint would be unsupported)
        latest_hinted = (
            F.broadcast(latest)
            if stats["n"] <= self.broadcast_threshold_rows
            else latest
        )

        # Partition-pruned read: only the changed buckets' files are
        # listed/scanned; untouched buckets never enter the plan.
        replica = self.store.read_buckets(spark, table, changed_buckets)
        src_fields = [f.name for f in self.tables[table].fields]
        r, e = replica.alias("r"), latest_hinted.alias("e")
        # Per-row version guard: an event lands only if its seq_no beats
        # the row's stored _CDC_SEQ. This makes the merge idempotent under
        # replay AND correct under out-of-order micro-batch delivery —
        # global ordering is not guaranteed once ingestion is distributed.
        applies = F.col("e.op").isNotNull() & (
            F.col("e.seq_no") > F.col(f"r.{CDC_SEQ}")
        )
        op = F.when(applies, F.col("e.op"))  # null unless the event lands

        # existing rows: keep values on D (soft delete), take post-image on I/U
        updated = r.join(e, F.col(f"r.{pk}") == F.col(f"e.{pk}"), "left").select(
            *[
                F.when(op.isNull() | (op == "D"), F.col(f"r.{c}"))
                .otherwise(F.col(f"e.{c}"))
                .alias(c)
                for c in src_fields
            ],
            F.col(f"r.{schemas.META_INSERTED_AT}").alias(schemas.META_INSERTED_AT),
            F.when(op.isNull(), F.col(f"r.{schemas.META_UPDATED_AT}"))
            .otherwise(sync_col)
            .alias(schemas.META_UPDATED_AT),
            F.when(op.isNull(), F.col(f"r.{schemas.META_DELETED}"))
            .otherwise(op == "D")
            .alias(schemas.META_DELETED),
            F.when(op.isNull(), F.col(f"r.{CDC_SEQ}"))
            .otherwise(F.col("e.seq_no"))
            .alias(CDC_SEQ),
        )
        # Brand-new keys: inserts. A D for a never-seen key materializes a
        # PK-only tombstone so a late-arriving lower-seq INSERT for the
        # same key is correctly suppressed by the version guard.
        inserts = (
            latest.join(replica.select(pk), on=pk, how="left_anti")
            .select(
                *[F.col(c) for c in src_fields],
                sync_col.alias(schemas.META_INSERTED_AT),
                F.when(F.col("op").isin("U", "D"), sync_col)
                .otherwise(F.lit(None).cast("timestamp_ntz"))
                .alias(schemas.META_UPDATED_AT),
                (F.col("op") == "D").alias(schemas.META_DELETED),
                F.col("seq_no").alias(CDC_SEQ),
            )
        )
        merged = updated.unionByName(inserts.select(*updated.columns)).withColumn(
            CDC_BUCKET, self._bucket(pk)
        )
        if self.write_partitions:
            merged = merged.coalesce(self.write_partitions)
        else:
            # co-locate each bucket in one task: every task then writes
            # one file per bucket it owns instead of every task writing a
            # sliver of every bucket (32 tasks x 16 buckets = 512 files)
            merged = merged.repartition(self.n_buckets, F.col(CDC_BUCKET))
        self.store.write_merged(
            spark,
            table,
            merged,
            changed_buckets=changed_buckets,
            watermark=int(stats["max_seq"]),
        )

    # -- I6: journal -----------------------------------------------------------
    def append_journal(self, table: str, events: DataFrame) -> None:
        """Append the interval's raw (typed) events to the per-table log."""
        if "after" in events.columns:
            events = self.project_after(events, table)
        events.write.mode("append").parquet(self.store.journal_path(table))

    def quarantine(self, spark: SparkSession, table: str) -> DataFrame:
        """Malformed events the merge refused: journal rows whose PK
        failed the typed cast (NULL key) or whose op is not I/U/D. The
        journal keeps them verbatim (append happens BEFORE the merge's
        null-PK filter), so a producer bug is inspectable after the
        fact instead of silently dropped — the operational complement
        of the merge-side guard."""
        pk = self.primary_keys[table]
        j = self.store.read_journal(spark, table)
        return j.filter(
            F.col(pk).isNull() | ~F.col("op").isin("I", "U", "D")
        )

    # -- batch driver ------------------------------------------------------------
    def apply_envelope_batch(self, spark: SparkSession, batch: DataFrame) -> None:
        """Process one micro-batch of mixed-table envelope rows: journal
        first (append-only, replay-tolerant), then merge each table."""
        batch.persist()
        try:
            present = [
                row["table_name"]
                for row in batch.select("table_name").distinct().collect()
            ]
            for table in present:
                if table not in self.tables:
                    continue
                sub = batch.filter(F.col("table_name") == table)
                typed = self.project_after(sub, table)
                typed.persist()
                try:
                    self.append_journal(table, typed)
                    self.merge_batch(spark, table, typed)
                finally:
                    typed.unpersist()
                self.maybe_compact_journal(spark, table)
        finally:
            batch.unpersist()

    def maybe_compact_journal(self, spark: SparkSession, table: str) -> bool:
        """Compact the table's journal when its file count exceeds
        ``auto_compact_max_files`` (no-op when unset). The horizon keeps
        the newest ``journal_retain_seqs`` sequence numbers verbatim;
        older history collapses to latest-per-key. File counting is a
        directory listing — O(files), no data read."""
        if self.auto_compact_max_files is None:
            return False
        jdir = self.store.journal_path(table)
        try:
            n_files = sum(1 for f in os.listdir(jdir) if f.endswith(".parquet"))
        except FileNotFoundError:
            return False
        if n_files <= self.auto_compact_max_files:
            return False
        horizon = self.store.watermark(table) - self.journal_retain_seqs
        if horizon <= 0:
            return False
        self.compact_journal(spark, table, horizon)
        return True

    # -- I5: Structured Streaming wrapper ------------------------------------------
    def start_cdc(
        self,
        spark: SparkSession,
        events_dir: str,
        checkpoint_dir: str,
        processing_time: str | None = "60 seconds",
        available_now: bool = False,
        max_files_per_trigger: int = 1,
    ):
        """Consume JSONL change-event files as a stream; one merge per
        micro-batch (the reference's 1-minute sync interval —
        ``processingTime='60 seconds'``; tests use ``available_now`` with
        file-per-batch to replay the scripted scenario deterministically)."""
        reader = (
            spark.readStream.schema(ENVELOPE)
            .option("maxFilesPerTrigger", max_files_per_trigger)
            .json(events_dir)
        )
        writer = reader.writeStream.foreachBatch(
            lambda df, _epoch: self.apply_envelope_batch(df.sparkSession, df)
        ).option("checkpointLocation", checkpoint_dir)
        if available_now:
            writer = writer.trigger(availableNow=True)
        else:
            writer = writer.trigger(processingTime=processing_time)
        return writer.start()

    # -- cross-table consistent reads ----------------------------------------------
    def consistent_snapshot(
        self,
        spark: SparkSession,
        tables: Iterable[str] | None = None,
        on_gap: str = "fallback",
    ) -> "ConsistentSnapshot":
        """Read ALL tables at one common watermark — the newest sequence
        number every table has fully applied (tables advance their
        watermarks independently, so 'current' reads taken mid-batch can
        mix states; this pins each table to the newest RETAINED version
        whose watermark does not exceed the common minimum).

        The global event sequence is totally ordered across tables, so
        'every table at watermark <= W' is a transactionally consistent
        prefix of the change stream. Retention (``keep_versions``)
        bounds how far the per-table versions can drift; when a table's
        retained versions are ALL above the common watermark (it drifted
        more than retention covers), behavior follows ``on_gap``:

        - ``"fallback"`` (default): read that table's CURRENT version and
          record its name in the returned snapshot's ``fallbacks`` — the
          caller sees exactly which tables broke strict consistency;
        - ``"raise"``: propagate the FileNotFoundError (strict mode).

        Returns a ``ConsistentSnapshot`` — a plain ``dict[table ->
        DataFrame]`` carrying ``.watermark`` and ``.fallbacks``."""
        if on_gap not in ("fallback", "raise"):
            raise ValueError(f"on_gap must be 'fallback' or 'raise', got {on_gap!r}")
        names = list(tables or self.tables)
        common = min(self.store.watermark(t) for t in names)
        out = {}
        fallbacks = []
        for t in names:
            try:
                v = self.store.version_at_watermark(t, common)
            except FileNotFoundError:
                if on_gap == "raise":
                    raise
                fallbacks.append(t)
                v = None  # newest retained version
            out[t] = self.store.read(spark, t, version=v)
        return ConsistentSnapshot(out, watermark=common, fallbacks=fallbacks)

    # -- disaster recovery: replica from journal ----------------------------------
    def rebuild_replica(
        self,
        spark: SparkSession,
        table: str,
        into: "ReplicaStore | None" = None,
    ) -> None:
        """Reconstruct the replica table from the journal alone — the
        journal is a complete source of truth when the engine was
        bootstrapped with ``journal_snapshot=True`` (snapshot rows are
        seq-0 'I' events). This is the disaster-recovery / migration
        path: lose every replica file, keep the journal, rebuild.

        State (source columns, soft-delete flag, per-row ``_CDC_SEQ``
        guard) is reconstructed EXACTLY — verified against the
        incrementally-maintained replica in tests. Metadata timestamps
        are event-time-derived (first event -> inserted_at, last event
        -> updated_at), which is deterministic and batch-independent;
        the incremental path stamps them with the enclosing batch's
        sync time, so they can differ when one batch carried several
        events for a key.

        One window + one aggregate over the journal, both shuffling on
        the PK — the same key layout as every other per-key operator."""
        store = into or self.store
        pk = self.primary_keys[table]
        j = self.store.read_journal(spark, table, dedup=True, pk=pk)
        j = j.filter(F.col(pk).isNotNull() & F.col("op").isin("I", "U", "D"))
        src_fields = [f.name for f in self.tables[table].fields]

        w = Window.partitionBy(pk).orderBy(F.col("seq_no").desc())
        last = (
            j.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select(
                F.col(pk).alias("_k"),
                F.col("seq_no").alias("_last_seq"),
                F.col("op").alias("_last_op"),
                F.col("event_ts").alias("_last_ts"),
            )
        )
        # post-image values come from the latest NON-delete event (a
        # soft-deleted row retains its last live values); D-only keys
        # materialize PK-only tombstones, as the merge does.
        vals = (
            j.filter(F.col("op") != "D")
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select(F.col(pk).alias("_k"), *[F.col(c) for c in src_fields if c != pk])
        )
        first = j.groupBy(F.col(pk).alias("_k")).agg(
            F.min("seq_no").alias("_first_seq"),
            F.min_by("event_ts", "seq_no").alias("_first_ts"),
        )
        rebuilt = (
            last.join(vals, "_k", "left")
            .join(first, "_k")
            .select(
                F.col("_k").alias(pk),
                *[F.col(c) for c in src_fields if c != pk],
                F.col("_first_ts").alias(schemas.META_INSERTED_AT),
                F.when(F.col("_last_seq") > F.col("_first_seq"), F.col("_last_ts"))
                .otherwise(F.lit(None).cast("timestamp_ntz"))
                .alias(schemas.META_UPDATED_AT),
                (F.col("_last_op") == "D").alias(schemas.META_DELETED),
                # seq-0 snapshot rows carry the bootstrap guard value -1
                F.when(F.col("_last_seq") == 0, F.lit(-1))
                .otherwise(F.col("_last_seq"))
                .cast("long")
                .alias(CDC_SEQ),
            )
            .withColumn(CDC_BUCKET, self._bucket(pk))
        )
        if self.write_partitions:
            rebuilt = rebuilt.coalesce(self.write_partitions)
        else:
            rebuilt = rebuilt.repartition(self.n_buckets, F.col(CDC_BUCKET))
        watermark = self.store.watermark(table)
        store.write_full(
            spark, table, rebuilt, watermark=watermark, n_buckets=self.n_buckets
        )

    # -- SCD2 history over the journal --------------------------------------------
    def scd2_history(self, spark: SparkSession, table: str) -> DataFrame:
        """Slowly-changing-dimension type-2 view derived from the journal:
        one row per (key, version) with ``valid_from``/``valid_to``
        intervals, a version number, and current/deleted flags.

        The journal is append-only, so this is a pure window computation
        (no state): per-PK ``lead(event_ts)`` closes each version. At
        100 TB the journal partitions by table and the window shuffles on
        the PK once — same key layout as the merge itself.

        DELETE events carry a PK-only payload; their row closes the prior
        version and materializes a tombstone version (``is_deleted``).
        """
        pk = self.primary_keys[table]
        j = self.store.read_journal(spark, table, dedup=True, pk=pk)
        w = Window.partitionBy(pk).orderBy("seq_no")
        return (
            j.withColumn("valid_from", F.col("event_ts"))
            .withColumn("valid_to", F.lead("event_ts").over(w))
            .withColumn("version", F.row_number().over(w))
            .withColumn("is_deleted", F.col("op") == "D")
            .withColumn(
                "is_current",
                F.lead("event_ts").over(w).isNull() & (F.col("op") != "D"),
            )
            .drop("event_ts")
        )

    # -- I6: journal retention --------------------------------------------------
    def compact_journal(
        self, spark: SparkSession, table: str, retain_after_seq: int
    ) -> dict:
        """Bound journal growth: events newer than ``retain_after_seq``
        are kept verbatim (full SCD2 fidelity for the retention window);
        older WELL-FORMED history collapses to the LATEST event per key,
        so latest-state reads, replica rebuilds, and the version guard
        keep working while intermediate pre-horizon versions are dropped.
        Malformed events (NULL PK or unknown op) are excluded from the
        collapse and kept verbatim regardless of age — ``quarantine()``
        promises the journal preserves them for post-hoc inspection, and
        a latest-per-key window would otherwise fold every NULL-PK row
        into one arbitrary survivor.

        An append-only journal otherwise grows with total change volume
        forever — at 100 TB scale compaction is what keeps the journal a
        queryable table instead of cold sediment. Runs as one window over
        the pre-horizon slice (shuffles on the PK, the same key layout as
        every other per-key operator).

        Local-FS swap is write-tmp -> rename-old-aside -> rename-tmp-in
        -> delete-old: both full datasets exist on disk until the new
        journal is in place, so a crash at any step loses nothing. The
        next run FIRST recovers from the one window where the live dir
        is missing (crashed between rename-aside and rename-in: ``__old``
        is then the only complete journal and is renamed back) and only
        after that deletes leftover ``__compacting``/``__old`` debris; a
        distributed deployment would swap a file manifest instead, as
        the replica pointer does.

        Returns ``{"before": n, "after": n, "horizon": seq}``.
        """
        jdir = self.store.journal_path(table)
        tmp = jdir + "__compacting"
        old = jdir + "__old"
        # Crash recovery must precede debris cleanup: if a prior run died
        # between os.rename(jdir, old) and os.rename(tmp, jdir), `old` is
        # the ONLY complete journal on disk — restore it before anything
        # is deleted. (`tmp` at that point may be a complete compacted
        # copy, but `old` is always complete pre-compaction, so it wins.)
        if not os.path.exists(jdir) and os.path.exists(old):
            os.rename(old, jdir)
        for stale in (tmp, old):  # now genuinely-redundant debris
            if os.path.exists(stale):
                shutil.rmtree(stale)

        pk = self.primary_keys[table]
        j = self.store.read_journal(spark, table, dedup=True, pk=pk)
        well_formed = F.col(pk).isNotNull() & F.col("op").isin("I", "U", "D")
        quarantined = j.filter(~well_formed)  # kept verbatim, any age
        good = j.filter(well_formed)
        old_slice = good.filter(F.col("seq_no") <= retain_after_seq)
        recent = good.filter(F.col("seq_no") > retain_after_seq)
        w = Window.partitionBy(pk).orderBy(F.col("seq_no").desc())
        latest_old = (
            old_slice.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        compacted = latest_old.unionByName(recent).unionByName(quarantined)
        if self.write_partitions:
            compacted = compacted.coalesce(self.write_partitions)

        before = spark.read.parquet(jdir).count()
        compacted.write.mode("overwrite").parquet(tmp)  # materialize first
        os.rename(jdir, old)
        os.rename(tmp, jdir)
        shutil.rmtree(old)
        after = spark.read.parquet(jdir).count()
        return {"before": before, "after": after, "horizon": retain_after_seq}

    # -- views -------------------------------------------------------------------
    def register_views(
        self, spark: SparkSession, tables: Iterable[str] | None = None
    ) -> None:
        """Register raw replicas (``<t>_raw``) and the semantic-layer
        default views (``<t>`` with ``_SNOWFLAKE_DELETED = FALSE`` —
        reference yaml:593-594,613-614)."""
        for t in tables or self.tables:
            df = self.store.read(spark, t).drop(CDC_SEQ)
            df.createOrReplaceTempView(f"{t}_raw")
            df.filter(~F.col(schemas.META_DELETED)).createOrReplaceTempView(t)

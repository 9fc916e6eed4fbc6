"""Incrementally-maintained MinHash-LSH dedup index (the dd4 state,
persisted, mergeable, and retractable).

A training-data pipeline does not re-shingle a 100 TB corpus every time
a new crawl dump lands. This module maintains dd4's artifacts as an
on-disk index so per-dump ingest cost tracks the DELTA — in CANDIDATE
WORK and in I/O:

- shingling / minhash signatures run over the NEW batch only (per-doc
  functions — immutable once computed);
- candidate generation joins the batch's band rows against the stored
  band table on (band_id, sig), and the stored-band READ is
  bucket-pruned to the batch's band-signature hash buckets — keyed
  lookup over a pruned scan, never a corpus rescan;
- exact-Jaccard verification touches only the docs involved in new or
  invalidated candidates, and the stored shingle-log read backing it is
  bucket-pruned to those docs' hash buckets;
- the rewritten views (doc-frequency table, verified pairs) are stored
  HASH-BUCKETED with copy-on-write versioning: an ingest rewrites only
  the buckets its keys touch and hard-links every untouched bucket's
  files from the previous version (same inode, zero bytes copied) —
  the same layout the CDC replica uses (streaming/cdc.py
  ``ReplicaStore.write_merged``; on a distributed filesystem without
  hard links the contract is 'reference the previous version's files
  in the new manifest', Iceberg/Delta-style).

The subtle part is dd4's doc-frequency cap (operators/dedup.py
SHINGLE_DOC_FREQ_CAP): verification runs over shingle sets with
corpus-hot shingles removed, and "hot" is a property of the WHOLE
corpus, so appending a batch can push a shingle over the cap and
retroactively change the capped sizes/intersections — and therefore the
jaccard — of pairs verified in earlier increments (it can even lift a
previously sub-threshold candidate ABOVE the threshold, since dropping
a shared hot shingle shrinks the union faster than the intersection).
Incremental maintenance therefore:

1. maintains a mergeable (shingle, df) table and detects CAP-CROSSING
   shingles per ingest (old df <= cap < new df);
2. maintains the HOT set (df > cap) as its own tiny copy-on-write table
   so verification never needs a corpus-wide df scan;
3. stores ALL banding candidates ever generated (append-only — band
   signatures are per-doc and immutable), not just passing pairs;
4. re-verifies exactly the stored candidates touching a doc that
   contains a crossing shingle, alongside the batch's new candidates.

Cap-crossing shingles are few by construction (each needs CAP+1 docs),
so the re-verify set stays delta-sized. The maintained ``pairs`` view
is then EXACTLY fresh dd4 on the accumulated corpus after every ingest
— the property test asserts set equality per append step, and the
``dd15_incremental_minhash_pairs`` registry entry replays a 3-batch
ingest and is driver-checked against dd4's own DuckDB oracle.

RETRACTION (``retract``) is the reverse edge a real pipeline hits first
after ingest — takedowns, poisoned docs, eval leaks, CDC soft deletes
(the reference's ``_SNOWFLAKE_DELETED`` semantics,
/root/reference/sql/3.live_appointments.sql:18,413, flowing into the
maintained indexes instead of stopping at the replicas). Retracting
doc_ids: tombstones them (append-only log filtered on every stored
read), decrements their shingles' df, detects DOWN-crossing shingles
(old df > cap >= new df — previously-hot shingles rejoin capped sets,
which retroactively changes surviving pairs in BOTH directions), drops
their pairs, and re-verifies exactly the stored candidates touching
docs that contain a down-crossed shingle. The property test asserts
ingest/retract interleavings equal a fresh build on the surviving docs.

Per-operation cost envelope (the delta contract, honest about I/O):
- ingest: reads/writes are delta- or bucket-bounded. The ONE
  corpus-bounded step is the affected-doc lookup when a cap-crossing
  occurs (a by-shingle lookup over the doc-bucketed shingle log);
  crossings are rare by construction (each shingle crosses once, at
  its CAP+1-th arrival), so the cost amortizes to ~zero per ingest.
- retract: same shape; additionally reads the pairs VIEW (output-sized,
  orders of magnitude below corpus) to locate pairs naming the
  retracted docs, and the candidate log (candidate-sized) when a
  down-crossing re-verify is needed.

Storage layout (all under ``index_dir``)::

    manifest.json                  {"version", "n_docs", "n_buckets",
                                    "tables": {"df": v, "hot": v, "pairs": v}}
    shingles/v<N>/_IDX_BUCKET=<b>/...  log segments, b = hash(doc_id)
    bands/v<N>/_IDX_BUCKET=<b>/...     log segments, b = hash(band_id, sig)
    cands/v<N>/...                     log segments, flat (read only on
                                       crossing re-verify / retract)
    tombstones/v<N>/...                log segments, flat (retracted ids)
    df/v<N>/_IDX_BUCKET=<b>/...        copy-on-write, b = hash(shingle)
    hot/v<N>/_IDX_BUCKET=<b>/...       copy-on-write, b = hash(shingle)
    pairs/v<N>/_IDX_BUCKET=<b>/...     copy-on-write, b = hash(doc_a)

The manifest flips LAST (``versioned.commit``), so a crashed operation
leaves the previous version fully readable. Log tables are SEGMENTED by
the writing operation's version and reads are manifest-gated (only
segments ``v <= manifest.version`` are visible), so a crashed
operation's orphan segment is invisible and a RETRY of the same batch
overwrites it instead of double-appending — the idempotence the COW
tables get from versioned overwrite extends to the logs. Within an
operation, append reads additionally snapshot-pin the file list
present at plan time (a bare directory read is lazy — a recompute
after this ingest's appends would double-count the batch). Write
parallelism is bounded by the bucket count (16 here for test-scale
file counts); a cluster deployment raises ``n_buckets`` to thousands,
exactly like the replica's ``_CDC_BUCKET`` layout. doc_ids must be
unique across ingests and never re-ingested after retraction (upstream
exact-dedup dd1 / CDC keys guarantee this in the pipeline; ingest
raises on a tombstoned doc_id).
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sfguide_getting_started_openflow_postgresql_cdc_spark import versioned
from sfguide_getting_started_openflow_postgresql_cdc_spark.operators.dedup import (
    JACCARD_THRESHOLD,
    SHINGLE_DOC_FREQ_CAP,
    _band_exprs,
    _minhash_sig_cols,
    clear_dedup_cache,
)
from sfguide_getting_started_openflow_postgresql_cdc_spark.operators.registry import (
    query,
)
from sfguide_getting_started_openflow_postgresql_cdc_spark.sources.loader import (
    load_table,
)

IDX_BUCKET = "_IDX_BUCKET"


def _run_concurrently(jobs) -> list:
    """Run independent write jobs from driver threads so their Spark
    jobs schedule concurrently (SparkSession is thread-safe; each job's
    inputs are cached frames or snapshot-pinned file lists, so ordering
    within the group is immaterial). Serial submission pays one per-job
    scheduling floor per table — the dominant micro-batch ingest cost
    on an otherwise idle cluster. Returns the jobs' results in order.
    Every job runs to completion before anything is raised, so no
    failure hides behind another: the first failing job's exception
    propagates with the others attached as notes. Siblings are NOT
    cancelled — a failed operation may leave any subset of its group's
    writes on disk. That partial state is harmless by construction: COW
    versions and log segments both land in not-yet-committed ``v{new}``
    dirs that reads (manifest-gated) cannot see, and a retry overwrites
    them — see ``_append``."""
    if len(jobs) <= 1:
        return [j() for j in jobs]
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=len(jobs)) as ex:
        futures = [ex.submit(j) for j in jobs]
    errors = [f.exception() for f in futures if f.exception() is not None]
    if errors:
        for other in errors[1:]:
            errors[0].add_note(f"concurrent job also failed: {other!r}")
        raise errors[0]
    return [f.result() for f in futures]


def _shingle_batch(docs: DataFrame) -> DataFrame:
    """(doc_id, shingle) distinct 3-gram pairs for one batch — the same
    construction as operators/dedup.py::_doc_shingles, applied to an
    arbitrary (doc_id, text) frame instead of the documents table.
    r12: shares the exchange-free distinct builder
    (``gram_rows_distinct``) — the batch's distinct exchange is gone
    entirely (r11 had already removed the window exchange)."""
    from sfguide_getting_started_openflow_postgresql_cdc_spark.operators.dedup import (
        gram_rows_distinct,
    )

    return gram_rows_distinct(docs.select("doc_id", "text"), 3)


class MinHashLshIndex:
    """Maintained dd4 state: ``ingest`` appends a batch of documents,
    ``retract`` removes documents; both update the verified near-dup
    ``pairs`` view incrementally with bucket-COW delta I/O."""

    def __init__(
        self,
        spark: SparkSession,
        index_dir: str,
        cap: int = SHINGLE_DOC_FREQ_CAP,
        threshold: float = JACCARD_THRESHOLD,
        n_buckets: int = 16,
    ) -> None:
        self.spark = spark
        self.dir = index_dir
        self.cap = cap
        self.threshold = threshold
        os.makedirs(index_dir, exist_ok=True)
        man = self._manifest()
        # bucket count is pinned at creation — the hash layout on disk
        # must match the exprs used to prune reads forever after
        self.n_buckets = int(man.get("n_buckets", n_buckets))

    # -- manifest / storage plumbing ------------------------------------

    LAYOUT_VERSION = 2  # v2: log tables segmented by operation version

    def _manifest(self) -> dict:
        p = os.path.join(self.dir, "manifest.json")
        if os.path.exists(p):
            man = json.load(open(p))
            if (
                man.get("version", 0) > 0
                and man.get("layout", 1) != self.LAYOUT_VERSION
            ):
                # a flat-log (pre-segmentation) index would be SILENTLY
                # read as having empty logs — refuse loudly instead
                raise ValueError(
                    f"index at {self.dir} uses storage layout "
                    f"{man.get('layout', 1)}, this code reads layout "
                    f"{self.LAYOUT_VERSION}; rebuild the index "
                    "(re-ingest the corpus) to migrate"
                )
            return man
        return {"version": 0, "n_docs": 0, "tables": {}}

    _LOG_TABLES = ("shingles", "bands", "cands", "tombstones")

    def _clear_orphan_segments(self, version: int, wrote: set[str]) -> None:
        """Remove v{version} segments of log tables THIS operation did
        not write. Without this, a crashed ingest's orphan bands/v2
        would be resurrected when a later RETRACT (which only writes
        tombstones) commits version 2 — the `v <= manifest.version`
        read gate cannot tell which OPERATION produced a segment, so
        the committing operation must own every segment at its
        version."""
        for name in self._LOG_TABLES:
            if name in wrote:
                continue
            shutil.rmtree(
                os.path.join(self.dir, name, f"v{version}"),
                ignore_errors=True,
            )

    def _commit(self, manifest: dict) -> None:
        manifest["n_buckets"] = self.n_buckets
        manifest["layout"] = self.LAYOUT_VERSION
        versioned.commit(os.path.join(self.dir, "manifest.json"), manifest)

    # bucket exprs — the single source of truth for the disk layout
    def _doc_bucket(self, col: str = "doc_id"):
        return F.pmod(F.xxhash64(F.col(col)), F.lit(self.n_buckets))

    def _shingle_bucket(self, col: str = "shingle"):
        return F.pmod(F.xxhash64(F.col(col)), F.lit(self.n_buckets))

    def _band_bucket(self):
        return F.pmod(
            F.xxhash64(F.col("band_id"), F.col("sig")), F.lit(self.n_buckets)
        )

    def _bucket_set(self, df: DataFrame, expr) -> list[int]:
        """Distinct hash buckets of a key frame — bounded by n_buckets,
        never data-proportional (the ONE collect shape this class
        allows itself)."""
        return sorted(
            r["b"] for r in df.select(expr.alias("b")).distinct().collect()
        )

    @staticmethod
    def _files_under(path: str, buckets: list[int] | None) -> list[str]:
        """Snapshot-pinned parquet file list, optionally restricted to
        the named bucket partition dirs. Pinning the list at plan time
        is the isolation a transactional format's snapshot gives: a
        recompute after this op's appends cannot see appended rows."""
        if not os.path.isdir(path):
            return []
        out: list[str] = []
        entries = sorted(os.listdir(path))
        for name in entries:
            sub = os.path.join(path, name)
            if os.path.isdir(sub) and name.startswith(f"{IDX_BUCKET}="):
                if buckets is not None and int(name.split("=", 1)[1]) not in buckets:
                    continue
                out += sorted(
                    os.path.join(sub, f)
                    for f in os.listdir(sub)
                    if f.endswith(".parquet")
                )
            elif name.endswith(".parquet"):
                if buckets is None:
                    out.append(sub)
        return out

    def _read_files(self, files: list[str], schema: str) -> DataFrame:
        if files:
            return self.spark.read.schema(schema).parquet(*files)
        return self.spark.createDataFrame([], schema)

    def _append_versions(self, name: str, upto: int) -> list[int]:
        """Committed log segments: version dirs ``v1..v{upto}`` present
        on disk. Gating reads on the MANIFEST version (not the listing)
        is what makes a crashed operation's orphan segment invisible —
        it sits at ``v{upto+1}`` until the retry overwrites it and the
        retry's commit makes it real."""
        tdir = os.path.join(self.dir, name)
        return [v for v in versioned.versions(tdir) if v <= upto]

    def _read_append(
        self, name: str, schema: str, buckets: list[int] | None = None
    ) -> DataFrame:
        upto = self._manifest()["version"]
        files: list[str] = []
        for v in self._append_versions(name, upto):
            files += self._files_under(
                os.path.join(self.dir, name, f"v{v}"), buckets
            )
        return self._read_files(files, schema)

    def _append(
        self, name: str, df: DataFrame, bucket_expr=None, *, version: int
    ) -> None:
        """Write one log SEGMENT — the batch's rows land in
        ``name/v{version}`` with mode=overwrite, so a retry of a crashed
        operation (same not-yet-committed version) REPLACES the orphan
        segment instead of appending duplicate rows next to it; reads
        gate on the manifest version (:meth:`_append_versions`), so the
        segment only becomes visible when the manifest flips.
        ``bucket_expr`` partitions the segment into hash-bucket dirs for
        pruned reads; one writer task per bucket (repartition on the
        bucket column), so file counts track buckets, not input
        partitioning."""
        path = os.path.join(self.dir, name, f"v{version}")
        if bucket_expr is None:
            df.write.mode("overwrite").parquet(path)
        else:
            (
                df.withColumn(IDX_BUCKET, bucket_expr)
                .repartition(F.col(IDX_BUCKET))
                .write.mode("overwrite")
                .partitionBy(IDX_BUCKET)
                .parquet(path)
            )

    # -- copy-on-write versioned tables ---------------------------------

    def _cow_version(self, name: str) -> int:
        return int(self._manifest().get("tables", {}).get(name, 0))

    def _cow_path(self, name: str, version: int) -> str:
        return os.path.join(self.dir, name, f"v{version}")

    def _cow_read(
        self, name: str, schema: str, buckets: list[int] | None = None
    ) -> DataFrame:
        v = self._cow_version(name)
        if v <= 0:
            return self.spark.createDataFrame([], schema)
        return self._read_files(
            self._files_under(self._cow_path(name, v), buckets), schema
        )

    def _cow_write(
        self,
        name: str,
        rows: DataFrame,
        bucket_expr,
        touched: list[int],
        new_version: int,
    ) -> None:
        """Write version ``new_version`` of a COW table: materialize
        ``rows`` (which must cover exactly the ``touched`` buckets) and
        hard-link every other bucket dir from the current version —
        the streaming/cdc.py ``write_merged`` contract, keyed by the
        index manifest instead of a per-table pointer so ALL tables
        flip atomically with one manifest rename."""
        out = self._cow_path(name, new_version)
        (
            rows.withColumn(IDX_BUCKET, bucket_expr)
            .repartition(F.col(IDX_BUCKET))
            .write.mode("overwrite")
            .partitionBy(IDX_BUCKET)
            .parquet(out)
        )
        old_v = self._cow_version(name)
        if old_v > 0:
            versioned.link_unchanged(
                self._cow_path(name, old_v), out, f"{IDX_BUCKET}=", touched
            )

    def _retire_cow_versions(self) -> None:
        """Keep each COW table's MANIFEST-COMMITTED version plus the one
        below it (in-flight readers); a crashed operation's orphan dir
        can outrank the committed version, so retirement never keys on
        the directory listing (``versioned.retire``)."""
        for name in ("df", "hot", "pairs"):
            versioned.retire(
                os.path.join(self.dir, name), self._cow_version(name), keep=2
            )

    # -- shared read helpers --------------------------------------------

    def _tombstones(self) -> DataFrame | None:
        """Retracted doc_ids, or None when no retraction ever happened
        (the common case — skipping the anti-join keeps ingest plans
        lean). Version-gated like every log read: a crashed retract's
        orphan tombstone segment is invisible until its retry commits."""
        upto = self._manifest()["version"]
        files: list[str] = []
        for v in self._append_versions("tombstones", upto):
            files += self._files_under(
                os.path.join(self.dir, "tombstones", f"v{v}"), None
            )
        if not files:
            return None
        return self.spark.read.schema("doc_id long").parquet(*files)

    @staticmethod
    def _anti_docs(df: DataFrame, excluded: DataFrame | None, col: str = "doc_id"):
        if excluded is None:
            return df
        return df.join(
            F.broadcast(excluded.withColumnRenamed("doc_id", col)), col, "left_anti"
        )

    def _verified_pairs(
        self,
        verify_set: DataFrame,
        hot: DataFrame,
        extra_sh: DataFrame | None,
        excluded: DataFrame | None,
        invol_buckets: list[int] | None = None,
    ) -> DataFrame:
        """Exact-Jaccard verification of ``verify_set`` (doc_a, doc_b)
        over the capped shingle sets of exactly the docs it touches.
        Stored-shingle I/O is bucket-pruned to those docs; ``extra_sh``
        carries the in-flight batch's shingles (ingest) and ``excluded``
        drops tombstoned/retracting docs. The hot anti-join carries no
        broadcast hint: hot is corpus-bounded (tiny in practice —
        |corpus|/(cap+1) is its ceiling — but AQE gets to decide)."""
        involved = (
            verify_set.select(F.col("doc_a").alias("doc_id"))
            .unionByName(verify_set.select(F.col("doc_b").alias("doc_id")))
            .distinct()
        )
        if invol_buckets is None:
            invol_buckets = self._bucket_set(involved, self._doc_bucket())
        stored_sh = self._anti_docs(
            self._read_append(
                "shingles", "doc_id long, shingle string", invol_buckets
            ),
            excluded,
        )
        all_sh = (
            stored_sh.unionByName(extra_sh) if extra_sh is not None else stored_sh
        )
        from pyspark.sql.window import Window

        # each capped row carries its doc's capped-set SIZE (one window
        # over the candidate-bounded frame, persisted with the rows —
        # the dd3/dd4 pattern): |A| and |B| then ride the intersection
        # joins and min() inside the pair aggregate reproduces them
        # exactly, so the two sizes joins AND their two broadcast
        # builds disappear from the pairs-write critical path (r12,
        # guide §1.2 — the serial broadcast builds each cost a driver
        # round-trip per ingest)
        invol_sh = (
            all_sh.join(F.broadcast(involved), "doc_id", "left_semi")
            .join(hot, "shingle", "left_anti")
            .withColumn(
                "n", F.count("*").over(Window.partitionBy("doc_id"))
            )
            .persist()
        )
        # invol_sh is candidate-bounded (docs touched by the verify set,
        # not the corpus), so BROADCAST both intersection sides: the
        # whole verification collapses to map-side joins + one AQE-
        # coalesced groupBy instead of a ladder of tiny shuffles
        sha, shb = invol_sh.alias("sha"), invol_sh.alias("shb")
        inter = (
            verify_set.join(
                F.broadcast(sha), F.col("sha.doc_id") == F.col("doc_a")
            )
            .join(
                F.broadcast(shb),
                (F.col("shb.doc_id") == F.col("doc_b"))
                & (F.col("shb.shingle") == F.col("sha.shingle")),
            )
            .groupBy("doc_a", "doc_b")
            .agg(
                F.count("*").alias("n_shared"),
                F.min(F.col("sha.n")).alias("na"),
                F.min(F.col("shb.n")).alias("nb"),
            )
        )
        jac = F.col("n_shared").cast("double") / (
            F.col("na") + F.col("nb") - F.col("n_shared")
        )
        return (
            inter.select("doc_a", "doc_b", jac.alias("jaccard"))
            .filter(F.col("jaccard") >= self.threshold)
        ), invol_sh

    # -- public surface -------------------------------------------------

    def pairs(self) -> DataFrame:
        """Current verified near-dup pairs view — equal to fresh dd4 on
        every document ingested so far and not retracted."""
        return self._cow_read("pairs", "doc_a long, doc_b long, jaccard double")

    def ingest(self, docs: DataFrame, collect_metrics: bool = True) -> dict:
        """Append a batch of (doc_id, text) documents; update bands, df
        counts, the hot set, the candidate log, and the verified pairs
        view. All reads and writes are delta- or bucket-bounded except
        the rare cap-crossing re-verify (module docstring)."""
        spark = self.spark
        man = self._manifest()
        new_version = man["version"] + 1
        tomb = self._tombstones()

        batch_sh = _shingle_batch(docs.select("doc_id", "text")).persist()
        if tomb is not None:
            n_bad = docs.join(F.broadcast(tomb), "doc_id", "left_semi").count()
            if n_bad:
                raise ValueError(
                    f"{n_bad} doc_ids were previously retracted; retracted ids "
                    "must not be re-ingested (tombstones filter them out)"
                )
        sig = batch_sh.groupBy("doc_id").agg(*_minhash_sig_cols())
        batch_bands = None
        for name, expr in _band_exprs():
            part = sig.select(
                "doc_id", F.lit(name).alias("band_id"), expr.alias("sig")
            )
            batch_bands = (
                part if batch_bands is None else batch_bands.unionByName(part)
            )
        batch_bands = batch_bands.persist()

        # stored-band read pruned to the batch's band-signature buckets.
        # ONE job derives every batch-side bucket set (bands + df) AND
        # the batch doc count (manifest bookkeeping — counting `docs`
        # separately would re-run its whole input plan as its own job):
        # the per-job scheduling floor dominates at micro-batch scale,
        # so fusing the bounded collects matters more than row counts
        tagged = (
            batch_bands.select(
                F.lit("band").alias("t"),
                self._band_bucket().cast("long").alias("b"),
            )
            .unionByName(
                batch_sh.select(
                    F.lit("df").alias("t"),
                    self._shingle_bucket().cast("long").alias("b"),
                )
            )
            .distinct()
            .unionByName(
                docs.agg(F.count("*").alias("b")).select(
                    F.lit("ndocs").alias("t"), "b"
                )
            )
            .collect()
        )
        n_batch_docs = next(int(r["b"]) for r in tagged if r["t"] == "ndocs")
        band_buckets = sorted(int(r["b"]) for r in tagged if r["t"] == "band")
        stored_bands = self._anti_docs(
            self._read_append(
                "bands", "doc_id long, band_id string, sig string", band_buckets
            ),
            tomb,
        )
        all_bands = stored_bands.unionByName(batch_bands)

        # new candidates: every collision involving >=1 batch doc. Band
        # signatures are immutable per doc, so this is append-only.
        bb, ob = batch_bands.alias("bb"), all_bands.alias("ob")
        new_cands = (
            bb.join(
                ob,
                (F.col("bb.band_id") == F.col("ob.band_id"))
                & (F.col("bb.sig") == F.col("ob.sig"))
                & (F.col("bb.doc_id") != F.col("ob.doc_id")),
            )
            .select(
                F.least("bb.doc_id", "ob.doc_id").alias("doc_a"),
                F.greatest("bb.doc_id", "ob.doc_id").alias("doc_b"),
            )
            .distinct()
            .persist()
        )

        # df merge + cap-crossing detection, bucket-pruned: every batch
        # shingle hashes into a touched bucket, and crossing requires a
        # batch arrival, so the pruned read sees every possible crossing
        df_buckets = sorted(int(r["b"]) for r in tagged if r["t"] == "df")
        old_df = self._cow_read("df", "shingle string, df long", df_buckets)
        batch_df = batch_sh.groupBy("shingle").agg(F.count("*").alias("bdf"))
        merged = (
            old_df.join(batch_df, "shingle", "full_outer")
            .select(
                "shingle",
                (
                    F.coalesce(F.col("df"), F.lit(0))
                    + F.coalesce(F.col("bdf"), F.lit(0))
                ).alias("new_df"),
                F.coalesce(F.col("df"), F.lit(0)).alias("old_df"),
            )
            .persist()
        )
        # ONE job resolves the crossing count AND the verify-side bucket
        # sets for the no-crossing case (r11, the `tagged` fusion applied
        # again — guide §1.2: the per-job scheduling floor dominates a
        # micro-batch ingest, so bounded collects are fused wherever the
        # dependency graph allows). The action also materializes the
        # caches of `merged` (df write reuses it) and `new_cands` (the
        # verify joins reuse it). In the COMMON no-crossing case the
        # bucket rows are final; a crossing (rare by construction — each
        # shingle crosses once, at its CAP+1-th arrival) pays one extra
        # bucket job over the widened verify_set below.
        crossing = merged.filter(
            (F.col("old_df") <= self.cap) & (F.col("new_df") > self.cap)
        ).select("shingle")

        def _probe():
            return (
                crossing.agg(F.count("*").alias("b")).select(
                    F.lit("x").alias("t"), F.col("b").cast("long")
                )
                .unionByName(
                    new_cands.select(
                        F.lit("a").alias("t"),
                        self._doc_bucket("doc_a").alias("b"),
                    )
                    .unionByName(
                        new_cands.select(
                            F.lit("b").alias("t"),
                            self._doc_bucket("doc_b").alias("b"),
                        )
                    )
                    .distinct()
                )
                .collect()
            )

        # the probe job runs CONCURRENTLY with the shingles/bands log
        # appends (r12, guide §2.6 — overlap independent jobs): all
        # three depend only on the caches the `tagged` job materialized
        # (the probe additionally computes `merged`/`new_cands`, which
        # nothing else races on), and a v{new} log segment is invisible
        # until the manifest flips, so appending before the probe
        # resolves is crash-equivalent to appending after it — a retry
        # overwrites the segment either way (see ``_append``). The
        # cands append stays in the FINAL wave: it reads `new_cands`,
        # which the probe is materializing — running them concurrently
        # would compute the candidate join twice (cache race).
        cross_and_vk = _run_concurrently(
            [
                _probe,
                lambda: self._append(
                    "shingles", batch_sh, self._doc_bucket(), version=new_version
                ),
                lambda: self._append(
                    "bands", batch_bands, self._band_bucket(), version=new_version
                ),
            ]
        )[0]
        n_crossing = next(int(r["b"]) for r in cross_and_vk if r["t"] == "x")

        hot_old = self._cow_read("hot", "shingle string")
        hot_new = (
            hot_old.unionByName(crossing).distinct() if n_crossing else hot_old
        )

        if n_crossing:
            # RARE corpus-bounded step (module docstring): by-shingle
            # lookup over the doc-bucketed shingle log to find stored
            # docs whose capped sets changed
            stored_sh_full = self._anti_docs(
                self._read_append("shingles", "doc_id long, shingle string"),
                tomb,
            )
            affected_old = (
                stored_sh_full.join(F.broadcast(crossing), "shingle")
                .select("doc_id")
                .distinct()
            )
            stored_cands = self._anti_docs(
                self._anti_docs(
                    self._read_append("cands", "doc_a long, doc_b long"),
                    tomb,
                    "doc_a",
                ),
                tomb,
                "doc_b",
            )
            reverify = (
                stored_cands.join(
                    F.broadcast(affected_old),
                    stored_cands.doc_a == affected_old.doc_id,
                    "left_semi",
                )
                .unionByName(
                    stored_cands.join(
                        F.broadcast(affected_old),
                        stored_cands.doc_b == affected_old.doc_id,
                        "left_semi",
                    )
                )
                .distinct()
                .persist()
            )
            verify_set = new_cands.unionByName(reverify).distinct().persist()
        else:
            reverify = None
            verify_set = new_cands  # already distinct + persisted

        if n_crossing:
            # rare path: re-derive the bucket sets over the WIDENED
            # verify_set (new candidates + re-verifies) — its own job
            vk = (
                verify_set.select(
                    F.lit("a").alias("t"), self._doc_bucket("doc_a").alias("b")
                )
                .unionByName(
                    verify_set.select(
                        F.lit("b").alias("t"),
                        self._doc_bucket("doc_b").alias("b"),
                    )
                )
                .distinct()
                .collect()
            )
        else:
            # common path: the fused job above already produced them
            vk = [r for r in cross_and_vk if r["t"] != "x"]
        pair_buckets = sorted(r["b"] for r in vk if r["t"] == "a")
        invol_buckets = sorted({r["b"] for r in vk})

        verified, invol_sh = self._verified_pairs(
            verify_set,
            hot_new,
            extra_sh=batch_sh,
            excluded=tomb,
            invol_buckets=invol_buckets,
        )

        # pairs view, bucket-COW: drop every re-examined key, add back
        # the passers. With unique doc_ids, every NEW candidate touches
        # a batch doc, so stored pairs can only collide with REVERIFY
        # keys. Touched buckets come from the re-examined keys' doc_a.
        old_pairs_t = self._cow_read(
            "pairs", "doc_a long, doc_b long, jaccard double", pair_buckets
        )
        kept = (
            old_pairs_t.join(
                F.broadcast(reverify), ["doc_a", "doc_b"], "left_anti"
            )
            if reverify is not None
            else old_pairs_t
        )
        new_pairs = kept.unionByName(verified)

        # bookkeeping counts (candidate-bounded frames only; skippable —
        # each is an extra job, and a bench-timed ingest wants the floor)
        metrics = {"version": new_version, "batch_docs": n_batch_docs}
        if collect_metrics:
            metrics.update(
                new_candidates=new_cands.count(),
                reverified_candidates=reverify.count()
                if reverify is not None
                else 0,
                touched_df_buckets=len(df_buckets),
                touched_pair_buckets=len(pair_buckets),
            )

        # commit: write the new COW versions FIRST (their plans read the
        # snapshot-pinned stored state), then append the immutable logs,
        # then flip the manifest (readers of the old version unaffected).
        # WITHIN each group the writes are independent Spark jobs over
        # pinned inputs (every stored-state read enumerated its concrete
        # file list at plan time, and the batch frames are cached), so
        # they run CONCURRENTLY from driver threads — the serial version
        # paid one per-job scheduling floor per table, the dominant cost
        # of a micro-batch ingest on an otherwise idle cluster.
        tables = dict(man.get("tables", {}))
        cow_jobs = [
            lambda: self._cow_write(
                "df",
                merged.select("shingle", F.col("new_df").alias("df")),
                self._shingle_bucket(),
                df_buckets,
                new_version,
            )
        ]
        tables["df"] = new_version
        if n_crossing:
            hot_buckets = self._bucket_set(crossing, self._shingle_bucket())
            hot_rows = self._cow_read(
                "hot", "shingle string", hot_buckets
            ).unionByName(crossing).distinct()
            cow_jobs.append(
                lambda: self._cow_write(
                    "hot", hot_rows, self._shingle_bucket(), hot_buckets,
                    new_version,
                )
            )
            tables["hot"] = new_version
        if pair_buckets or self._cow_version("pairs") == 0:
            cow_jobs.append(
                lambda: self._cow_write(
                    "pairs", new_pairs, self._doc_bucket("doc_a"),
                    pair_buckets, new_version,
                )
            )
            tables["pairs"] = new_version
        # Concurrency shape (re-measured r12): the shingles/bands
        # appends already ran overlapped with the probe job above, so
        # the final wave is the two-to-three remaining writes — df,
        # pairs (the critical path: its plan computes the whole
        # verification subgraph), and the cands append (its input was
        # cached by the probe). r11's negative result stands: a single
        # 6-way wave oversubscribed the 32-core box (6.5-18.2 s/ingest
        # vs a stable 6.7-7.5 s) and stays reverted; this 3-4-way wave
        # measured faster than the r11 two-wave form. Snapshot-pinned
        # reads make any order CORRECT; the split is a schedule choice.
        cow_jobs.append(
            lambda: self._append("cands", new_cands, version=new_version)
        )
        _run_concurrently(cow_jobs)
        self._clear_orphan_segments(
            new_version, wrote={"shingles", "bands", "cands"}
        )
        self._commit(
            {
                "version": new_version,
                "n_docs": man["n_docs"] + metrics["batch_docs"],
                "tables": tables,
            }
        )
        to_release = [batch_sh, batch_bands, new_cands, merged, invol_sh]
        if reverify is not None:
            to_release += [reverify, verify_set]
        for f in to_release:
            f.unpersist()
        self._retire_cow_versions()
        return metrics

    def retract(self, doc_ids, collect_metrics: bool = True) -> dict:
        """Remove documents from the index: tombstone their ids, shrink
        their shingles' df, maintain the hot set across DOWN-crossings,
        drop their pairs, and re-verify exactly the stored candidates
        whose capped sets a down-crossing changed. The maintained view
        afterwards equals a fresh build on the surviving docs (property
        test). ``doc_ids``: list[int] or a (doc_id) DataFrame."""
        spark = self.spark
        man = self._manifest()
        new_version = man["version"] + 1
        tomb = self._tombstones()

        if isinstance(doc_ids, DataFrame):
            req = doc_ids.select("doc_id").distinct()
        else:
            req = spark.createDataFrame(
                [(int(i),) for i in doc_ids], "doc_id long"
            )
        r = self._anti_docs(req, tomb).persist()  # idempotent re-retract
        n_retract = r.count()
        metrics = {"version": new_version, "retracted_docs": n_retract}
        if n_retract == 0:
            r.unpersist()
            metrics["version"] = man["version"]
            return metrics
        excluded = r if tomb is None else tomb.unionByName(r)

        # retracted docs' shingles: doc-bucket-pruned log read
        r_buckets = self._bucket_set(r, self._doc_bucket())
        r_sh = (
            self._read_append("shingles", "doc_id long, shingle string", r_buckets)
            .join(F.broadcast(r), "doc_id", "left_semi")
            .persist()
        )
        dec = r_sh.groupBy("shingle").agg(F.count("*").alias("ddf"))

        # df decrement over the touched shingle buckets only
        df_buckets = self._bucket_set(dec, self._shingle_bucket())
        old_df = self._cow_read("df", "shingle string, df long", df_buckets)
        merged = (
            old_df.join(dec, "shingle", "left")
            .select(
                "shingle",
                (F.col("df") - F.coalesce(F.col("ddf"), F.lit(0))).alias("new_df"),
                F.col("df").alias("old_df"),
            )
            .persist()
        )
        down = merged.filter(
            (F.col("old_df") > self.cap) & (F.col("new_df") <= self.cap)
        )
        # two DISTINCT uses of the down-crossing set: HOT REMOVAL must
        # include vanished shingles (new_df == 0) — a hot shingle whose
        # docs are all retracted in one call leaves the df table (the
        # new_df > 0 write filter) but would otherwise stay in hot
        # forever, wrongly excluded from capped sets when later ingests
        # reintroduce it at df <= cap; the RE-VERIFY lookup keeps the
        # new_df > 0 restriction (a vanished shingle touches no
        # surviving doc's capped set, so nothing to re-verify)
        hot_down = down.select("shingle")
        crossing_down = down.filter(F.col("new_df") > 0).select("shingle")
        n_hot_down = hot_down.count()
        n_crossing = crossing_down.count()

        hot_old = self._cow_read("hot", "shingle string")
        hot_new = (
            hot_old.join(F.broadcast(hot_down), "shingle", "left_anti")
            if n_hot_down
            else hot_old
        )

        if n_crossing:
            # rare by-shingle lookup (same amortized shape as ingest's
            # up-crossing path)
            stored_sh_full = self._anti_docs(
                self._read_append("shingles", "doc_id long, shingle string"),
                excluded,
            )
            affected = (
                stored_sh_full.join(F.broadcast(crossing_down), "shingle")
                .select("doc_id")
                .distinct()
            )
            stored_cands = self._anti_docs(
                self._anti_docs(
                    self._read_append("cands", "doc_a long, doc_b long"),
                    excluded,
                    "doc_a",
                ),
                excluded,
                "doc_b",
            )
            reverify = (
                stored_cands.join(
                    F.broadcast(affected),
                    stored_cands.doc_a == affected.doc_id,
                    "left_semi",
                )
                .unionByName(
                    stored_cands.join(
                        F.broadcast(affected),
                        stored_cands.doc_b == affected.doc_id,
                        "left_semi",
                    )
                )
                .distinct()
                .persist()
            )
            verified, invol_sh = self._verified_pairs(
                reverify, hot_new, extra_sh=None, excluded=excluded
            )
        else:
            reverify, verified, invol_sh = None, None, None

        # pairs: the view is output-sized, so locating rows that NAME a
        # retracted doc reads it whole (doc_b's bucket is unknowable
        # from doc_a's layout) — still orders below corpus I/O
        all_pairs = self.pairs()
        ra = r.withColumnRenamed("doc_id", "doc_a")
        rb = r.withColumnRenamed("doc_id", "doc_b")
        dropped = (
            all_pairs.join(F.broadcast(ra), "doc_a", "left_semi")
            .unionByName(all_pairs.join(F.broadcast(rb), "doc_b", "left_semi"))
            .distinct()
            .persist()
        )
        touched_keys = dropped.select("doc_a")
        if reverify is not None:
            touched_keys = touched_keys.unionByName(reverify.select("doc_a"))
        pair_buckets = self._bucket_set(touched_keys, self._doc_bucket("doc_a"))

        if collect_metrics:
            metrics.update(
                dropped_pairs=dropped.count(),
                reverified_candidates=reverify.count()
                if reverify is not None
                else 0,
                touched_df_buckets=len(df_buckets),
                touched_pair_buckets=len(pair_buckets),
            )

        tables = dict(man.get("tables", {}))
        self._cow_write(
            "df",
            merged.filter(F.col("new_df") > 0).select(
                "shingle", F.col("new_df").alias("df")
            ),
            self._shingle_bucket(),
            df_buckets,
            new_version,
        )
        tables["df"] = new_version
        if n_hot_down:
            hot_buckets = self._bucket_set(hot_down, self._shingle_bucket())
            hot_rows = self._cow_read("hot", "shingle string", hot_buckets).join(
                F.broadcast(hot_down), "shingle", "left_anti"
            )
            self._cow_write(
                "hot", hot_rows, self._shingle_bucket(), hot_buckets, new_version
            )
            tables["hot"] = new_version
        if pair_buckets:
            old_pairs_t = self._cow_read(
                "pairs", "doc_a long, doc_b long, jaccard double", pair_buckets
            )
            kept = old_pairs_t.join(F.broadcast(ra), "doc_a", "left_anti").join(
                F.broadcast(rb), "doc_b", "left_anti"
            )
            if reverify is not None:
                kept = kept.join(
                    F.broadcast(reverify), ["doc_a", "doc_b"], "left_anti"
                )
                kept = kept.unionByName(verified)
            self._cow_write(
                "pairs", kept, self._doc_bucket("doc_a"), pair_buckets, new_version
            )
            tables["pairs"] = new_version
        self._append("tombstones", r, version=new_version)
        self._clear_orphan_segments(new_version, wrote={"tombstones"})
        self._commit(
            {
                "version": new_version,
                "n_docs": max(man["n_docs"] - n_retract, 0),
                "tables": tables,
            }
        )
        for f in (r, r_sh, merged, dropped):
            f.unpersist()
        for f in (reverify, invol_sh):
            if f is not None:
                f.unpersist()
        self._retire_cow_versions()
        # retraction invalidates the SESSION-LEVEL dedup memos (shared
        # shingle sets, dd4 pairs, dd15/px16 replays — clear_dedup_cache
        # clears them ALL): downstream consumers (dd7 groups, px6
        # curation, px15 splits) recomputed after a CDC soft-delete sync
        # must see the surviving corpus, not a persisted pre-retraction
        # snapshot (r8 verdict task 7). The memos rebuild lazily on next
        # use; deletes are rare (takedowns), so the rebuild cost is the
        # correct trade.
        clear_dedup_cache()
        return metrics


_DD15_MEMO: dict = {}


@query("dd15_incremental_minhash_pairs")
def dd15_incremental_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay the documents table as THREE ingest batches (doc_id % 3)
    through a fresh MinHashLshIndex and return the maintained pairs
    view — by the index's maintenance invariant this equals fresh dd4
    on the full table, so it shares dd4's DuckDB oracle verbatim (the
    driver re-derives the equality every round). The collected result
    is memoized per (session, sf_dir): multiple harness passes (plan
    gate + parity + driver) would otherwise replay the 3-ingest
    pipeline each time; pairs are dedup output, bounded, never
    corpus-proportional. bench.py times the INDEX itself via
    ``_bench_incremental_dedup``, not this replay wrapper."""
    key = (spark.sparkContext.applicationId, sf_dir)
    hit = _DD15_MEMO.get(key)
    if hit is not None:
        rows, schema = hit
        return spark.createDataFrame(rows, schema)
    docs = load_table(spark, sf_dir, "documents")
    tmp = tempfile.mkdtemp(prefix="dd15_idx_")
    try:
        idx = MinHashLshIndex(spark, tmp)
        for r in range(3):
            idx.ingest(docs.filter(F.pmod(F.col("doc_id"), F.lit(3)) == r))
        # materialize before the temp dir vanishes
        out = idx.pairs()
        rows = out.collect()
        _DD15_MEMO[key] = (rows, out.schema)
        return spark.createDataFrame(rows, out.schema)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# dd15's oracle IS dd4's oracle — the maintained view contract.
from sfguide_getting_started_openflow_postgresql_cdc_spark.operators.registry import (  # noqa: E402
    ORACLES,
)

ORACLES["dd15_incremental_minhash_pairs"] = ORACLES["dd4_minhash_lsh_pairs"]

"""Incrementally-maintained CURATION MANIFEST — px11's end-to-end
preprocessing artifact updated per training dump instead of rescanning
the corpus (r8 verdict task 6).

A 100 TB pretraining corpus arrives as dumps (crawl snapshots, CDC
batches), but ``px11_training_manifest`` recomputes keep-first dedup,
eval decontamination, split assignment and shard packing from scratch
on every call. This module maintains the same artifact as mergeable
state, the ``streaming/mv.py`` incremental-aggregate algebra applied to
the curation pipeline:

- the MANIFEST rows (split, lang, shard_id, n_docs, shard_tokens) and
  the px7/px10-style corpus statistics (per-language doc/token counts,
  per-source mixture totals) are ADDITIVE group aggregates — each dump
  contributes a tiny delta frame that merges by summation, exactly
  ``IncrementalGroupSum``'s merge rule;
- shard packing is an exclusive running token sum ordered by doc_id
  within (split, lang) — incrementalizable because dumps arrive in
  doc_id order (enforced), so a dump's running sums continue from the
  stored per-(split, lang) cumulative totals and NEVER re-shard
  already-packed docs;
- keep-first fingerprint dedup needs cross-dump memory: fingerprints
  live in a hash-bucketed append log (the dedup-index layout), and a
  dump's duplicate check reads ONLY the buckets its own fingerprints
  hash into — delta-bounded I/O, never a corpus rescan;
- the EVAL BENCHMARK is frozen at ``initialize``: its distinct n-grams
  (the px8 decontamination side) and its fingerprints (dup copies of
  benchmark content must die, px11's rule) are stored once. A frozen
  eval suite is what makes per-dump decontamination sound — a growing
  one could retroactively contaminate already-packed docs, which no
  incremental (or sane) pipeline admits; real pipelines freeze the eval
  set before curation for exactly this reason.

The maintenance invariant (property-tested, and driver-checked through
the ``px16_incremental_manifest`` registry entry against px11's own
DuckDB oracle): after any sequence of in-order dumps, ``manifest()``
equals a fresh ``px11_training_manifest`` over benchmark ∪ ingested
dumps.

Per-dump cost envelope: shingling/fingerprinting/token counting run
over the DUMP only; the benchmark gram set broadcasts (eval suites are
tiny); the fingerprint-log read is bucket-pruned to the dump's
fingerprint hash buckets; every stored aggregate (manifest, totals,
stats) is group-cardinality, orders below the corpus. Writes land in
uncommitted ``v<N>`` dirs and the meta commits last
(``versioned.commit``), so a crashed ingest leaves the previous state
readable; a retry of the same dump is rejected by the doc_id watermark
instead of double-counting.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from sfguide_getting_started_openflow_postgresql_cdc_spark import versioned

FP_BUCKET = "_FP_BUCKET"


class IncrementalCurationManifest:
    """Maintained px11 state: ``initialize`` freezes the benchmark,
    ``ingest`` appends one in-order dump, ``manifest`` /
    ``stats_by_lang`` / ``stats_by_source`` read the maintained views."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        token_budget: int | None = None,
        contam_threshold: float | None = None,
        n_buckets: int = 16,
    ) -> None:
        from sfguide_getting_started_openflow_postgresql_cdc_spark.operators.analytics_ext import (
            SHARD_TOKEN_BUDGET,
        )
        from sfguide_getting_started_openflow_postgresql_cdc_spark.operators.dedup import (
            DECONTAM_OVERLAP,
        )

        self.spark = spark
        self.path = path
        self.budget = int(token_budget or SHARD_TOKEN_BUDGET)
        self.threshold = float(
            contam_threshold if contam_threshold is not None else DECONTAM_OVERLAP
        )
        os.makedirs(path, exist_ok=True)
        meta = self._meta()
        self.n_buckets = int(meta.get("n_buckets", n_buckets))

    # -- storage plumbing ---------------------------------------------------

    def _meta(self) -> dict:
        p = os.path.join(self.path, "meta.json")
        if os.path.exists(p):
            return json.load(open(p))
        return {
            "initialized": False,
            "max_doc_id": None,
            "version": 0,
            "tables": {},
        }

    def _commit_meta(self, meta: dict) -> None:
        meta["n_buckets"] = self.n_buckets
        versioned.commit(os.path.join(self.path, "meta.json"), meta)

    def _write(self, name: str, df: DataFrame, version: int) -> None:
        """Write version ``version`` of a table; it becomes visible only
        when the meta's table map flips to it (commit-last, so a crash
        between table writes and the meta commit leaves the previous
        state readable and a RETRY's overwrite cannot double-merge)."""
        dst = os.path.join(self.path, name, f"v{version}")
        df.coalesce(1).write.mode("overwrite").parquet(dst)

    def _read(self, name: str, schema: str) -> DataFrame:
        v = int(self._meta().get("tables", {}).get(name, 0))
        p = os.path.join(self.path, name, f"v{v}")
        if v > 0 and os.path.isdir(p):
            return self.spark.read.schema(schema).parquet(p)
        return self.spark.createDataFrame([], schema)

    def _fp_bucket(self, col: str = "f"):
        return F.pmod(F.xxhash64(F.col(col)), F.lit(self.n_buckets))

    def _fp_segment_path(self, version: int) -> str:
        return os.path.join(self.path, "fingerprints", f"v{version}")

    def _append_fps(self, fps: DataFrame, version: int) -> None:
        (
            fps.withColumn(FP_BUCKET, self._fp_bucket())
            .repartition(F.col(FP_BUCKET))
            .write.mode("overwrite")  # retry of a crashed dump overwrites
            .partitionBy(FP_BUCKET)
            .parquet(self._fp_segment_path(version))
        )

    def _read_fps(self, buckets: list[int], upto: int) -> DataFrame:
        """Committed fingerprint-log rows, pruned to the named hash
        buckets — a dump's dup check never reads the whole log."""
        files: list[str] = []
        root = os.path.join(self.path, "fingerprints")
        for v in range(1, upto + 1):
            seg = self._fp_segment_path(v)
            if not os.path.isdir(seg):
                continue
            for d in sorted(os.listdir(seg)):
                if not d.startswith(f"{FP_BUCKET}="):
                    continue
                if int(d.split("=", 1)[1]) not in buckets:
                    continue
                sub = os.path.join(seg, d)
                files += sorted(
                    os.path.join(sub, f)
                    for f in os.listdir(sub)
                    if f.endswith(".parquet")
                )
        if not files:
            return self.spark.createDataFrame([], "f string, doc_id long")
        return self.spark.read.schema("f string, doc_id long").parquet(*files)

    # -- shared expressions (the exact px11 definitions) --------------------

    @staticmethod
    def _fingerprint():
        from sfguide_getting_started_openflow_postgresql_cdc_spark.operators.text import (
            fingerprint,
        )

        return fingerprint(F.col("text")).alias("f")

    @staticmethod
    def _shingles(docs: DataFrame) -> DataFrame:
        from sfguide_getting_started_openflow_postgresql_cdc_spark.operators.dedup_index import (
            _shingle_batch,
        )

        return _shingle_batch(docs.select("doc_id", "text"))

    # -- public surface -----------------------------------------------------

    def initialize(self, benchmark_docs: DataFrame) -> None:
        """Freeze the eval benchmark: store its distinct n-grams (the
        decontamination side) and its fingerprints (benchmark dup copies
        in later dumps must die, keep-first rule)."""
        meta = self._meta()
        if meta["initialized"]:
            raise ValueError(f"manifest at {self.path} already initialized")
        self._write(
            "bench_grams",
            self._shingles(benchmark_docs).select("shingle").distinct(),
            version=1,
        )
        bench_fps = benchmark_docs.select(
            self._fingerprint(), F.col("doc_id")
        ).groupBy("f").agg(F.min("doc_id").alias("doc_id"))
        self._append_fps(bench_fps, version=1)
        self._commit_meta(
            {
                "initialized": True,
                "max_doc_id": None,
                "version": 1,
                "tables": {"bench_grams": 1},
            }
        )

    def ingest(
        self,
        docs: DataFrame,
        collect_metrics: bool = True,
        on_replay: str = "raise",
    ) -> dict:
        """Append one dump of (doc_id, text, lang, source, ...) rows.
        Dumps must arrive in doc_id order (min id strictly above every
        previously ingested id) — that is what keeps keep-first dedup
        and shard packing incremental.

        Below-watermark dumps split into TWO cases, decided against the
        recorded ``applied_ranges`` (one (lo, hi) id-range per committed
        ingest — doc_ids are unique, so an exact range match identifies
        the dump): a REPLAY of an applied dump (at-least-once streaming
        delivery after a crash between the manifest commit and the sink/
        checkpoint commit) raises by default or is skipped under
        ``on_replay='skip'``; a NEVER-APPLIED out-of-order dump (its
        range matches no applied ingest) ALWAYS raises — silently
        skipping it would be permanent data loss, not idempotence.

        The five independent state writes submit concurrently (the
        dedup-index pattern): per-dump wall time is dominated by
        per-job scheduling floors at toy scale, not data."""
        if on_replay not in ("raise", "skip"):
            raise ValueError(f"on_replay must be 'raise' or 'skip', got {on_replay!r}")
        spark = self.spark
        meta = self._meta()
        if not meta["initialized"]:
            raise ValueError("initialize(benchmark_docs) must run first")
        new_version = meta["version"] + 1

        dump = docs.select("doc_id", "text", "lang", "source").persist()
        try:
            # ONE job computes the dump bounds AND the fingerprint-dedup
            # frame's touched hash buckets (r11, guide §1.2: fused
            # bounded collects — the per-job floor dominates a
            # micro-batch ingest). Materializes both persists. The rare
            # replay/out-of-order path below wastes the bucket half of
            # the job — it raises/skips anyway.
            fpd = self._fp_dedup(dump)
            probe = (
                dump.agg(
                    F.min("doc_id").alias("lo"),
                    F.max("doc_id").alias("hi"),
                    F.count("*").alias("n"),
                )
                .select(F.lit("bounds").alias("t"), "lo", "hi", "n")
                .unionByName(
                    fpd.select(
                        F.lit("bucket").alias("t"),
                        self._fp_bucket().alias("lo"),
                        F.lit(None).cast("long").alias("hi"),
                        F.lit(None).cast("long").alias("n"),
                    ).distinct()
                )
                .collect()
            )
            bounds = next(r for r in probe if r["t"] == "bounds")
            fp_buckets = sorted(
                int(r["lo"]) for r in probe if r["t"] == "bucket"
            )
            if bounds["n"] == 0:
                return {
                    "version": meta["version"],
                    "ingested_docs": 0,
                    "skipped": True,
                    "reason": "empty",
                }
            if meta["max_doc_id"] is not None and bounds["lo"] <= meta["max_doc_id"]:
                rng = [int(bounds["lo"]), int(bounds["hi"])]
                if rng in meta.get("applied_ranges", []):
                    if on_replay == "skip":
                        return {
                            "version": meta["version"],
                            "ingested_docs": 0,
                            "skipped": True,
                            "reason": "replay",
                            "watermark": meta["max_doc_id"],
                        }
                    raise ValueError(
                        f"dump id range {rng} was already applied "
                        f"(watermark {meta['max_doc_id']}): replay of an "
                        "applied dump"
                    )
                raise ValueError(
                    f"dump min doc_id {bounds['lo']} <= watermark "
                    f"{meta['max_doc_id']} and its id range {rng} matches "
                    "no applied ingest: dumps must arrive in doc_id "
                    "order (out-of-order delivery — refusing, a silent "
                    "skip would lose these documents)"
                )

            return self._apply(
                dump,
                meta,
                new_version,
                n_docs=int(bounds["n"]),
                hi=int(bounds["hi"]),
                new_ranges=[[int(bounds["lo"]), int(bounds["hi"])]],
                collect_metrics=collect_metrics,
                fpd=fpd,
                fp_buckets=fp_buckets,
            )
        finally:
            # _apply unpersists fpd when it runs; the early-return /
            # raise paths above release it here (idempotent)
            fpd.unpersist()
            dump.unpersist()

    def ingest_many(
        self,
        dumps: list,
        collect_metrics: bool = True,
        on_replay: str = "raise",
    ) -> dict:
        """Batched catch-up (r10, VERDICT r9 task 4): apply k
        consecutive dumps in ONE manifest version commit — one
        shard-packing continuation, one stats merge, one fingerprint
        append — instead of k full commit cycles (a restart after a
        week of accumulated dumps used to pay ~2.7 s of commit overhead
        PER dump at toy scale).

        Equivalence with k serial ingests (property-tested): keep-first
        fingerprint dedup under the min-doc_id rule, per-doc
        decontamination against the frozen benchmark, per-doc
        split/token derivation, and the doc_id-ordered running-sum
        shard packing are all prefix-stable over an ordered
        concatenation, so one pass over the union commutes with
        sequential passes. ``applied_ranges`` still gains ONE ENTRY PER
        DUMP, so a later replay of any constituent dump is recognized
        exactly as if it had been applied on its own.

        Per-dump discrimination matches ``ingest``: an exact replay of
        an applied dump raises (or is skipped under
        ``on_replay='skip'``); a below-watermark dump matching no
        applied range always raises; dumps inside the batch must be
        pairwise disjoint and are applied in doc_id order. Empty dumps
        are skipped."""
        if on_replay not in ("raise", "skip"):
            raise ValueError(
                f"on_replay must be 'raise' or 'skip', got {on_replay!r}"
            )
        meta = self._meta()
        if not meta["initialized"]:
            raise ValueError("initialize(benchmark_docs) must run first")
        persisted = [
            d.select("doc_id", "text", "lang", "source").persist()
            for d in dumps
        ]
        if not persisted:
            # Empty batch (e.g. a zero-row foreachBatch micro-batch via
            # ingest_batch_or_skip): skipped, same as `ingest` on an
            # empty dump — the fused-bounds job below needs >= 1 dump.
            return {
                "version": meta["version"],
                "ingested_docs": 0,
                "skipped": True,
                "n_dumps_applied": 0,
                "n_dumps_skipped": 0,
            }
        spec_fpd = None
        try:
            # ONE job computes every dump's bounds (r11, guide §1.2 /
            # §2.6): the k per-dump aggs union into a single action, so
            # a k-dump catch-up pays one scheduling floor — not k — for
            # its bookkeeping pass, and every dump's persist
            # materializes in the same job. r12: the SPECULATIVE
            # fingerprint-dedup frame over the whole batch rides the
            # same job (its touched-bucket distinct unions in as tagged
            # rows, the `ingest` fusion applied to the k-dump path) —
            # valid whenever every dump applies, the common catch-up
            # case. A skipped/empty dump invalidates it (the real union
            # is a subset): it is released and `_apply` recomputes over
            # the actual union, paying the old separate job only on
            # that rare path. _fp_dedup is order-independent (min
            # doc_id per fingerprint), so the speculative any-order
            # union matches the sorted union _apply would build.
            bounds_rows = {}
            agg = None
            for i, d in enumerate(persisted):
                part = d.agg(
                    F.min("doc_id").alias("lo"),
                    F.max("doc_id").alias("hi"),
                    F.count("*").alias("n"),
                ).select(F.lit(i).alias("_i"), "lo", "hi", "n")
                agg = part if agg is None else agg.unionByName(part)
            spec_union = persisted[0]
            for d in persisted[1:]:
                spec_union = spec_union.unionByName(d)
            spec_fpd = self._fp_dedup(spec_union)
            agg = agg.unionByName(
                spec_fpd.select(
                    F.lit(-1).alias("_i"),
                    self._fp_bucket().alias("lo"),
                    F.lit(None).cast("long").alias("hi"),
                    F.lit(None).cast("long").alias("n"),
                ).distinct()
            )
            spec_buckets = []
            for r in agg.collect():
                if r["_i"] == -1:
                    spec_buckets.append(int(r["lo"]))
                else:
                    bounds_rows[r["_i"]] = r
            infos, skipped = [], 0
            for i, d in enumerate(persisted):
                b = bounds_rows[i]
                if b["n"] == 0:
                    skipped += 1
                    continue
                rng = [int(b["lo"]), int(b["hi"])]
                wm = meta["max_doc_id"]
                if wm is not None and rng[0] <= wm:
                    if rng in meta.get("applied_ranges", []):
                        if on_replay == "skip":
                            skipped += 1
                            continue
                        raise ValueError(
                            f"dump id range {rng} was already applied "
                            f"(watermark {wm}): replay of an applied dump"
                        )
                    raise ValueError(
                        f"dump min doc_id {rng[0]} <= watermark {wm} and "
                        f"its id range {rng} matches no applied ingest: "
                        "dumps must arrive in doc_id order (out-of-order "
                        "delivery — refusing, a silent skip would lose "
                        "these documents)"
                    )
                infos.append((rng, int(b["n"]), d))
            if not infos:
                return {
                    "version": meta["version"],
                    "ingested_docs": 0,
                    "skipped": True,
                    "n_dumps_applied": 0,
                    "n_dumps_skipped": skipped,
                }
            infos.sort(key=lambda t: t[0][0])
            for (r1, _, _), (r2, _, _) in zip(infos, infos[1:]):
                if r2[0] <= r1[1]:
                    raise ValueError(
                        f"dumps overlap within the batch ({r1} vs {r2}) "
                        "— doc_id ranges must be pairwise disjoint"
                    )
            union = infos[0][2]
            for _, _, d in infos[1:]:
                union = union.unionByName(d)
            if skipped == 0:
                # every dump applied: the speculative frame IS the
                # union's fp-dedup — hand it (and its buckets) down so
                # _apply skips its own bucket job. _apply owns spec_fpd's
                # unpersist from here (it releases fpd on every exit).
                fpd_arg, buckets_arg = spec_fpd, sorted(spec_buckets)
                spec_fpd = None
            else:
                fpd_arg, buckets_arg = None, None
            out = self._apply(
                union,
                meta,
                meta["version"] + 1,
                n_docs=sum(n for _, n, _ in infos),
                hi=infos[-1][0][1],
                new_ranges=[r for r, _, _ in infos],
                collect_metrics=collect_metrics,
                fpd=fpd_arg,
                fp_buckets=buckets_arg,
            )
            out["n_dumps_applied"] = len(infos)
            out["n_dumps_skipped"] = skipped
            return out
        finally:
            if spec_fpd is not None:
                spec_fpd.unpersist()
            for d in persisted:
                d.unpersist()

    def _fp_dedup(self, dump: DataFrame) -> DataFrame:
        """Keep-first fingerprint dedup WITHIN a dump (persisted): the
        in-dump half of step 1 — drop all but the min-doc_id row per
        fingerprint. Extracted (r11) so ``ingest`` can fuse this frame's
        bucket collect with the bounds job."""
        fpd = dump.select(
            "doc_id", "text", "lang", "source", self._fingerprint()
        )
        w = Window.partitionBy("f")
        return (
            fpd.withColumn("_canon", F.min("doc_id").over(w))
            .filter(F.col("doc_id") == F.col("_canon"))
            .drop("_canon")
            .persist()
        )

    def _apply(
        self,
        dump: DataFrame,
        meta: dict,
        new_version: int,
        n_docs: int,
        hi: int,
        new_ranges: list,
        collect_metrics: bool,
        fpd: DataFrame | None = None,
        fp_buckets: list | None = None,
    ) -> dict:
        """Shared pipeline core behind ``ingest`` (one range) and
        ``ingest_many`` (k ranges, one commit): keep-first fingerprint
        dedup -> decontamination -> split/token derivation -> shard
        packing continuation -> additive merges -> commit-last
        versioned write. The caller owns ``dump``'s persist; frames
        persisted here release in the finally (ADVICE r9). ``fpd`` /
        ``fp_buckets`` may arrive precomputed (``ingest`` fuses their
        job with its bounds job, r11); either way fpd is unpersisted
        here on every exit."""
        kept = corpus = None
        try:
            # 1. keep-first fingerprint dedup: in-dump keep-first, then
            # drop docs whose fingerprint is stored with a LOWER id
            # (stored benchmark fingerprints can carry HIGHER ids — the
            # min-id rule decides exactly as a fresh global window would)
            if fpd is None:
                fpd = self._fp_dedup(dump)
            if fp_buckets is None:
                fp_buckets = sorted(
                    r["b"]
                    for r in fpd.select(self._fp_bucket().alias("b"))
                    .distinct()
                    .collect()
                )
            buckets = fp_buckets
            stored = (
                self._read_fps(buckets, meta["version"])
                .groupBy("f")
                .agg(F.min("doc_id").alias("_stored_id"))
            )
            kept = (
                fpd.join(F.broadcast(stored), "f", "left")
                .filter(
                    F.col("_stored_id").isNull()
                    | (F.col("_stored_id") > F.col("doc_id"))
                )
                .drop("_stored_id")
                .persist()
            )

            # 2. decontamination against the FROZEN benchmark grams
            grams = self._shingles(kept)
            bench = self._read("bench_grams", "shingle string")
            contam = (
                grams.join(
                    F.broadcast(bench.withColumn("_hit", F.lit(1))),
                    "shingle",
                    "left",
                )
                .groupBy("doc_id")
                .agg(
                    (F.count("_hit").cast("double") / F.count("*")).alias(
                        "_frac"
                    )
                )
                .filter(F.col("_frac") >= self.threshold)
                .select("doc_id")
            )
            survivors = kept.join(F.broadcast(contam), "doc_id", "left_anti")

            # 3. split + token counts (map-side exprs, px2/px11 verbatim)
            from sfguide_getting_started_openflow_postgresql_cdc_spark.operators.analytics_ext import (
                _md5_mod,
            )
            from sfguide_getting_started_openflow_postgresql_cdc_spark.operators.text import (
                token_count,
            )

            h = _md5_mod(F.col("doc_id").cast("string"), 10)
            split = (
                F.when(h < 8, F.lit("train"))
                .when(h == 8, F.lit("val"))
                .otherwise(F.lit("test"))
            )
            corpus = survivors.select(
                "doc_id",
                "lang",
                "source",
                token_count(F.col("text")).alias("n_tokens"),
                split.alias("split"),
            ).persist()

            # 4. shard packing continuing from the stored cumulative
            # totals: exclusive running sum within the dump + the
            # per-(split, lang) offset — identical to the fresh global
            # window because dumps are doc_id-ordered
            totals = self._read(
                "totals", "split string, lang string, cum_tokens long"
            )
            rw = (
                Window.partitionBy("split", "lang")
                .orderBy("doc_id")
                .rowsBetween(Window.unboundedPreceding, Window.currentRow)
            )
            sharded = (
                corpus.withColumn("_rsum", F.sum("n_tokens").over(rw))
                .join(F.broadcast(totals), ["split", "lang"], "left")
                .withColumn("_off", F.coalesce(F.col("cum_tokens"), F.lit(0)))
                .withColumn(
                    "shard_id",
                    F.expr(f"(_off + _rsum - n_tokens) DIV {self.budget}"),
                )
            )
            delta_manifest = sharded.groupBy("split", "lang", "shard_id").agg(
                F.count("*").alias("n_docs"),
                F.sum("n_tokens").cast("long").alias("shard_tokens"),
            )

            # 5. additive merges (the IncrementalGroupSum rule) + logs
            manifest = self._read(
                "manifest",
                "split string, lang string, shard_id long, n_docs long, "
                "shard_tokens long",
            )
            merged_manifest = (
                manifest.unionByName(delta_manifest)
                .groupBy("split", "lang", "shard_id")
                .agg(
                    F.sum("n_docs").cast("long").alias("n_docs"),
                    F.sum("shard_tokens").cast("long").alias("shard_tokens"),
                )
            )
            delta_totals = corpus.groupBy("split", "lang").agg(
                F.sum("n_tokens").cast("long").alias("cum_tokens")
            )
            merged_totals = (
                totals.unionByName(delta_totals)
                .groupBy("split", "lang")
                .agg(F.sum("cum_tokens").cast("long").alias("cum_tokens"))
            )

            def _stat_merge(name: str, key: str) -> DataFrame:
                stored_s = self._read(
                    name, f"{key} string, n_docs long, n_tokens long"
                )
                delta = corpus.groupBy(key).agg(
                    F.count("*").cast("long").alias("n_docs"),
                    F.sum("n_tokens").cast("long").alias("n_tokens"),
                )
                return (
                    stored_s.unionByName(delta)
                    .groupBy(key)
                    .agg(
                        F.sum("n_docs").cast("long").alias("n_docs"),
                        F.sum("n_tokens").cast("long").alias("n_tokens"),
                    )
                )

            metrics = {
                "version": new_version,
                "ingested_docs": n_docs,
                "touched_fp_buckets": len(buckets),
            }
            # NOTE (r12, tried and REVERTED): materializing the corpus
            # cache with a count() before the write wave removes the
            # cache race (concurrent jobs hitting an uncached partition
            # each compute it — BlockManager stores one result but does
            # not block the racers: the dedup->decontam->token pipeline
            # runs up to 4x inside the wave). Measured at sf0.1 the wave
            # dropped 1.21 -> 0.68 s but TOTAL rose 2.40 -> 2.73 s: the
            # duplicated compute runs on otherwise-idle cores while the
            # dedicated count job is pure serial wall. Keep the race.
            if collect_metrics:
                metrics["kept_docs"] = corpus.count()
            from sfguide_getting_started_openflow_postgresql_cdc_spark.operators.dedup_index import (
                _run_concurrently,
            )

            stats_lang = _stat_merge("stats_lang", "lang")
            stats_source = _stat_merge("stats_source", "source")
            _run_concurrently(
                [
                    lambda: self._write("manifest", merged_manifest, new_version),
                    lambda: self._write("totals", merged_totals, new_version),
                    lambda: self._write("stats_lang", stats_lang, new_version),
                    lambda: self._write(
                        "stats_source", stats_source, new_version
                    ),
                    # fingerprints of every doc that survived FP-dedup
                    # (incl. contaminated ones: they still block later
                    # duplicates, exactly like px11's kept-first window
                    # over ALL docs)
                    lambda: self._append_fps(
                        kept.select("f", "doc_id"), new_version
                    ),
                ]
            )
            tables = dict(meta.get("tables", {}))
            tables.update(
                manifest=new_version,
                totals=new_version,
                stats_lang=new_version,
                stats_source=new_version,
            )
            new_meta = {
                "initialized": True,
                "max_doc_id": hi,
                "version": new_version,
                "tables": tables,
                # one (lo, hi) per committed SOURCE DUMP (k entries for
                # an ingest_many batch): the replay-vs-out-of-order
                # discriminator (doc_ids are unique, so an exact range
                # match identifies the dump); grows one tiny entry per
                # dump
                "applied_ranges": meta.get("applied_ranges", [])
                + [list(r) for r in new_ranges],
            }
            self._commit_meta(new_meta)
            # each table's committed version plus the one below it
            # (in-flight readers); orphans of crashed ingests go too
            for name, v in tables.items():
                versioned.retire(os.path.join(self.path, name), v, keep=2)
            return metrics
        finally:
            # ADVICE r9: release EVERY frame persisted this attempt even
            # when the pipeline raises after persisting (the crash-
            # before-commit retry path) — a success-path-only unpersist
            # leaked the cached frames for the rest of the session
            for f in (fpd, kept, corpus):
                if f is not None:
                    f.unpersist()

    def manifest(self) -> DataFrame:
        """(split, lang, shard_id, n_docs, shard_tokens) — equals fresh
        ``px11_training_manifest`` over benchmark ∪ ingested dumps."""
        return self._read(
            "manifest",
            "split string, lang string, shard_id long, n_docs long, "
            "shard_tokens long",
        )

    def stats_by_lang(self) -> DataFrame:
        """Per-language curated-corpus statistics (px7's input)."""
        return self._read("stats_lang", "lang string, n_docs long, n_tokens long")

    def stats_by_source(self) -> DataFrame:
        """Per-source curated-corpus statistics (px10's input)."""
        return self._read(
            "stats_source", "source string, n_docs long, n_tokens long"
        )


def ingest_or_skip(mf: IncrementalCurationManifest, dump: DataFrame) -> dict:
    """At-least-once ingest step for streaming delivery: apply the
    dump, skipping only a REPLAY of an ALREADY-APPLIED dump (its exact
    id range is in the manifest's ``applied_ranges`` — recorded by the
    same commit that moves the watermark, so a crashed attempt's retry
    still applies). A never-applied out-of-order dump (below the
    watermark but matching no applied range — e.g. file-source mtime
    ordering inverted by preserved timestamps or writer clock skew)
    RAISES loudly: silently skipping it would permanently lose its
    documents. Thin delegation — ``ingest`` owns the bounds logic."""
    out = mf.ingest(dump, collect_metrics=False, on_replay="skip")
    out.setdefault("skipped", False)
    return out


def ingest_batch_or_skip(
    mf: IncrementalCurationManifest, batch: DataFrame
) -> dict:
    """At-least-once ingest of a micro-batch that may span SEVERAL
    source dumps (one parquet file == one dump): split the batch back
    into its constituent files via the ``_src_file`` column the stream
    selected from the file source's ``_metadata`` (the metadata column
    itself does not survive the foreachBatch boundary), and apply them
    all in ONE manifest commit
    (:meth:`IncrementalCurationManifest.ingest_many`) — the batched
    catch-up path (r10). Replayed dumps inside the batch are skipped
    per-dump; a never-applied late dump still raises (same
    discrimination as :func:`ingest_or_skip`)."""
    files = sorted(
        r["_src_file"]
        for r in batch.select("_src_file").distinct().collect()
    )
    dumps = [
        batch.filter(F.col("_src_file") == f).drop("_src_file")
        for f in files
    ]
    out = mf.ingest_many(dumps, collect_metrics=False, on_replay="skip")
    out.setdefault("skipped", False)
    return out


def start_streaming_manifest(
    spark: SparkSession,
    source_dir: str,
    manifest_dir: str,
    checkpoint_dir: str,
    benchmark_docs: DataFrame | None = None,
    query_name: str = "curation_manifest",
    available_now: bool = True,
    max_files_per_trigger: int = 1,
    **manifest_kwargs,
):
    """Maintain the curation manifest FROM A STREAM of document dumps —
    the Structured Streaming face of :class:`IncrementalCurationManifest`
    (each arriving parquet file is one dump). ``max_files_per_trigger``
    sets the catch-up batch size: 1 (default) applies one dump per
    trigger; larger values let a restart after N accumulated dumps
    apply up to that many dumps PER COMMIT via
    :meth:`IncrementalCurationManifest.ingest_many` (the r10 batched
    catch-up — one shard-packing continuation and one stats merge per
    trigger instead of per dump). Either way the batch is split back
    into its constituent files, so per-dump replay/late-dump
    discrimination is preserved. ``benchmark_docs`` freezes the eval
    set on first start; reopening an initialized manifest ignores it.
    Replayed dumps are skipped — at-least-once foreachBatch composes
    with the manifest's commit-last atomicity to give exactly-once
    state."""
    from sfguide_getting_started_openflow_postgresql_cdc_spark.schemas import (
        DOCUMENTS,
    )

    mf = IncrementalCurationManifest(spark, manifest_dir, **manifest_kwargs)
    if not mf._meta()["initialized"]:
        if benchmark_docs is None:
            raise ValueError(
                "first start needs benchmark_docs to freeze the eval set"
            )
        mf.initialize(benchmark_docs)
    elif benchmark_docs is not None:
        # the benchmark FROZE at first start; accepting a new one here
        # would silently decontaminate future dumps against a different
        # eval set than the already-packed corpus — refuse loudly
        raise ValueError(
            f"manifest at {manifest_dir} already froze its benchmark; "
            "restart without benchmark_docs (or build a new manifest to "
            "re-curate against a changed eval set)"
        )

    stream = (
        spark.readStream.schema(DOCUMENTS)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .parquet(source_dir)
    )
    if max_files_per_trigger != 1:
        # file identity must ride INTO foreachBatch as a data column —
        # the _metadata struct does not cross that boundary
        stream = stream.withColumn(
            "_src_file", F.col("_metadata.file_path")
        )

    def _process(batch: DataFrame, epoch_id: int) -> None:
        if max_files_per_trigger == 1:
            ingest_or_skip(mf, batch)
        else:
            ingest_batch_or_skip(mf, batch)

    writer = (
        stream.writeStream.queryName(query_name)
        .foreachBatch(_process)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()

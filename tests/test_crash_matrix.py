"""Crash-point matrix: every state engine reaches the clean-run answer
after a crash at ANY ``versioned.commit`` of an operation followed by an
at-least-once replay of the same input — the three MVs, the MinHash
index ingest and the curation ingest. An MV merge starts with the
replica merge, so commit 1 of each MV case is the replica's pointer
and the replica rows are part of the compared state. Small inputs so
the whole matrix stays in the default (non-``slow``) selection.

The MV rows are the crash-then-replay drift case: bootstrap {1: a, 2: b},
batch {I 3 a, U 2 a}; a crash between the replica and MV commits used to
leave the MV at [(a, 1), (b, 1)] forever, where the truth is [(a, 3)]."""

import os
import shutil

import pytest
from pyspark.sql import types as T

from sfguide_getting_started_openflow_postgresql_cdc_spark import versioned
from sfguide_getting_started_openflow_postgresql_cdc_spark.operators.dedup_index import (
    MinHashLshIndex,
)
from sfguide_getting_started_openflow_postgresql_cdc_spark.schemas import DOCUMENTS
from sfguide_getting_started_openflow_postgresql_cdc_spark.streaming import mv
from sfguide_getting_started_openflow_postgresql_cdc_spark.streaming.cdc import (
    ENVELOPE,
    CdcEngine,
    ReplicaStore,
)
from sfguide_getting_started_openflow_postgresql_cdc_spark.streaming.curation import (
    IncrementalCurationManifest,
)

SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("grp", T.StringType(), True),
        T.StructField("v", T.LongType(), True),
    ]
)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _events(spark, rows, table="t"):
    env = [
        (seq, f"2024-01-01 00:{seq:02d}:00", table, op,
         {"id": str(i), "grp": g, "v": str(v)})
        for seq, op, i, g, v in rows
    ]
    return spark.createDataFrame(env, ENVELOPE)


def _cdc(spark, root, build=True, tables=("t",), keep_versions=2):
    eng = CdcEngine(
        ReplicaStore(os.path.join(root, "w"), keep_versions=keep_versions),
        tables={t: SCHEMA for t in tables},
        primary_keys={t: "id" for t in tables},
        write_partitions=1,
        n_buckets=4,
    )
    if build:
        snapshot = spark.createDataFrame([(1, "a", 10), (2, "b", 20)], SCHEMA)
        eng.bootstrap(
            spark, {t: snapshot for t in tables}, "2024-01-01 00:00:00",
            journal_snapshot=False,
        )
    return eng


_BATCH = [(1, "I", 3, "a", 5), (2, "U", 2, "a", 7)]


# Each setup opens the engine at ``root`` — first building its prior
# state there when ``build`` — and returns (operation, state): the
# operation is what crashes and replays.
def _mv(make):
    def setup(spark, root, build):
        eng = _cdc(spark, root, build)
        view = make(eng, os.path.join(root, "mv"))
        if build:
            view.initialize(spark)
        return (
            lambda: view.merge_batch(spark, _events(spark, _BATCH)),
            lambda: (_rows(view.read(spark)), _rows(eng.store.read(spark, "t"))),
        )

    return setup


def _minhash(spark, root, build):
    idx = MinHashLshIndex(
        spark, os.path.join(root, "idx"), cap=5, threshold=0.2, n_buckets=4
    )

    def docs(ids):
        return spark.createDataFrame(
            [(i, f"c1 c2 c3 c4 u{i} t1 t2 t3") for i in ids], "doc_id long, text string"
        )

    if build:
        idx.ingest(docs([1, 2]), collect_metrics=False)
    return (
        lambda: idx.ingest(docs([3, 4]), collect_metrics=False),
        lambda: (_rows(idx.pairs()), idx._manifest()["n_docs"]),
    )


def _curation(spark, root, build):
    def docs(rows):
        return spark.createDataFrame(
            [(i, text, lang, "web", len(text)) for i, text, lang in rows], DOCUMENTS
        )

    mf = IncrementalCurationManifest(spark, os.path.join(root, "cur"), n_buckets=4)
    if build:
        mf.initialize(docs([(0, "alpha beta gamma delta epsilon zeta eta theta", "en")]))
        mf.ingest(docs([(5, "red orange yellow green blue indigo violet", "en")]))
    dump = docs(
        [
            (205, "red orange yellow green blue indigo violet", "en"),  # dup of 5
            (207, "alpha beta gamma delta epsilon zeta eta theta", "en"),  # eval dup
            (211, "eins zwei drei vier funf sechs sieben acht", "de"),
        ]
    )
    return (
        lambda: mf.ingest(dump, collect_metrics=False),
        lambda: (_rows(mf.manifest()), _rows(mf.stats_by_lang())),
    )


ENGINES = {
    "mv_count": _mv(lambda e, p: mv.IncrementalGroupCount(e, "t", "grp", p)),
    "mv_sum": _mv(lambda e, p: mv.IncrementalGroupSum(e, "t", "grp", "v", p)),
    "mv_minmax": _mv(lambda e, p: mv.IncrementalGroupMinMax(e, "t", "grp", "v", p)),
    "minhash_ingest": _minhash,
    "curation_ingest": _curation,
}

# the fresh GROUP BY over {1: (a, 10), 2: (a, 7), 3: (a, 5)}
MV_TRUTH = {
    "mv_count": [("a", 3)],
    "mv_sum": [("a", 3, 22)],
    "mv_minmax": [("a", 3, 5, 10)],
}


class _CrashAt:
    """Stand-in for ``versioned.commit`` that raises on its k-th call
    (never, when k is None) and counts calls."""

    def __init__(self, real, k=None):
        self.real, self.k, self.calls = real, k, 0

    def __call__(self, path, obj):
        self.calls += 1
        if self.calls == self.k:
            raise RuntimeError(f"crash at commit {self.k}")
        self.real(path, obj)


@pytest.mark.parametrize("engine", list(ENGINES))
def test_crash_at_each_commit_then_replay_matches_clean_run(
    spark, tmp_path, monkeypatch, engine
):
    setup, real = ENGINES[engine], versioned.commit
    setup(spark, str(tmp_path / "prior"), build=True)

    def fresh(name):
        shutil.copytree(tmp_path / "prior", tmp_path / name)
        return setup(spark, str(tmp_path / name), build=False)

    op, state = fresh("clean")
    counter = _CrashAt(real)
    monkeypatch.setattr(versioned, "commit", counter)
    op()
    monkeypatch.setattr(versioned, "commit", real)
    want = state()
    assert counter.calls >= 1
    if engine in MV_TRUTH:
        assert want[0] == MV_TRUTH[engine]

    for k in range(1, counter.calls + 1):
        op, state = fresh(f"crash{k}")
        monkeypatch.setattr(versioned, "commit", _CrashAt(real, k))
        with pytest.raises(RuntimeError, match="crash at commit"):
            op()
        monkeypatch.setattr(versioned, "commit", real)
        op()  # at-least-once replay of the same input
        assert state() == want, f"crash at commit {k} of {counter.calls}"


def test_late_batch_never_lowers_watermark(spark, tmp_path):
    """A batch of only late events keeps the table's watermark: if it
    dropped 20 -> 5, the consistent snapshot would pin the common
    watermark at 5 and serve 't' with its seq-20 update next to 'u'
    without its seq-15 one."""
    eng = _cdc(spark, str(tmp_path), tables=("t", "u"), keep_versions=3)
    eng.merge_batch(spark, "t", _events(spark, [(20, "U", 1, "a20", 1)]))
    eng.merge_batch(spark, "u", _events(spark, [(15, "U", 1, "x15", 1)], "u"))
    eng.merge_batch(spark, "t", _events(spark, [(5, "U", 2, "b5", 1)]))
    assert eng.store.watermark("t") == 20

    snap = eng.consistent_snapshot(spark)
    assert snap.watermark == 15 and not snap.fallbacks
    grp = {t: {r["id"]: r["grp"] for r in snap[t].collect()} for t in ("t", "u")}
    assert grp["u"][1] == "x15"
    assert grp["t"][1] == "a"  # the seq-20 update is past the common watermark

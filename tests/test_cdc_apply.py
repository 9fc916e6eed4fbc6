"""The CDC merge plan and the concurrent per-table apply, in the default
selection: a clinic merge plans exactly one shuffle, and a table whose
journal append fails keeps its replica uncommitted while the batch's
other tables still commit."""

import re

import pytest
from pyspark.sql import types as T

from sfguide_getting_started_openflow_postgresql_cdc_spark.sources import healthcare
from sfguide_getting_started_openflow_postgresql_cdc_spark.streaming.cdc import (
    ENVELOPE,
    CdcEngine,
    ReplicaStore,
)


def _plan_nodes(df) -> list[str]:
    """Operator names of the physical plan, one per tree line."""
    tree = df._jdf.queryExecution().executedPlan().toString()
    node = re.compile(r"[\s:+\-]*(?:\*\(\d+\)\s*)?(\w+)")
    return [m.group(1) for m in map(node.match, tree.splitlines()) if m]


def test_clinic_merge_plans_one_exchange(spark, tmp_path):
    """The merge's only shuffle is the repartition the bucket write
    needs: no broadcast of the batch or of the replica keys, and no
    latest-per-key window."""
    eng = CdcEngine(ReplicaStore(str(tmp_path / "wh")))
    eng.bootstrap(spark, healthcare.snapshot_dataframes(spark), "2024-06-02 12:00:00")
    plans = []
    write_merged = eng.store.write_merged

    def spy(spark, table, changed_df, **kw):
        plans.append(_plan_nodes(changed_df))
        return write_merged(spark, table, changed_df, **kw)

    eng.store.write_merged = spy
    events = spark.createDataFrame(
        [
            (1, "2024-06-03 08:00:01", "appointments", "U",
             {"appointment_id": "1", "status": "checked_in"}),
            (2, "2024-06-03 08:00:02", "appointments", "U",
             {"appointment_id": "1", "status": "completed"}),
            (3, "2024-06-03 08:00:03", "appointments", "D", {"appointment_id": "2"}),
            (4, "2024-06-03 08:00:04", "appointments", "I",
             {"appointment_id": "9001", "status": "scheduled"}),
        ],
        ENVELOPE,
    )
    eng.merge_batch(spark, "appointments", events)

    assert len(plans) == 1
    nodes = plans[0]
    assert nodes.count("Exchange") == 1, nodes
    assert "BroadcastExchange" not in nodes, nodes
    assert "Window" not in nodes, nodes
    rows = {
        r["appointment_id"]: r
        for r in eng.store.read(spark, "appointments").collect()
    }
    assert rows[1]["status"] == "completed"
    assert rows[2]["_SNOWFLAKE_DELETED"]
    assert rows[9001]["status"] == "scheduled"


SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("v", T.StringType(), True),
    ]
)


def test_failed_journal_append_keeps_that_table_uncommitted(spark, tmp_path):
    """The journal append precedes the table's pointer commit, so a
    failed append leaves that replica's version where it was; the other
    table of the batch still commits, and the failure propagates."""
    eng = CdcEngine(
        ReplicaStore(str(tmp_path / "wh")),
        tables={"t": SCHEMA, "u": SCHEMA},
        primary_keys={"t": "id", "u": "id"},
        write_partitions=1,
        n_buckets=4,
    )
    snapshot = spark.createDataFrame([(1, "a"), (2, "b")], SCHEMA)
    eng.bootstrap(
        spark, {"t": snapshot, "u": snapshot}, "2024-01-01 00:00:00",
        journal_snapshot=False,
    )
    before = {t: eng.store.version(t) for t in ("t", "u")}
    append_journal = eng.append_journal

    def failing(table, events):
        if table == "u":
            raise OSError("journal volume full")
        return append_journal(table, events)

    eng.append_journal = failing
    batch = spark.createDataFrame(
        [
            (1, "2024-01-01 00:01:00", "t", "U", {"id": "1", "v": "t1"}),
            (2, "2024-01-01 00:02:00", "u", "U", {"id": "1", "v": "u1"}),
        ],
        ENVELOPE,
    )
    with pytest.raises(OSError, match="journal volume full"):
        eng.apply_envelope_batch(spark, batch)

    assert eng.store.version("u") == before["u"]
    assert eng.store.watermark("u") == -1
    assert eng.store.version("t") == before["t"] + 1
    got = {t: dict(eng.store.read(spark, t).select("id", "v").collect()) for t in "tu"}
    assert got == {"t": {1: "t1", 2: "b"}, "u": {1: "a", 2: "b"}}

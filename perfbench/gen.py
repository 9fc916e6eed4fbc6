"""Seeded input generators and expected-state models for the benchmark.

Each generator writes envelope JSONL batch files (one file per sync
interval) under a run directory and keeps, next to them, the state the
replica must hold after each delivered batch. The expected state models
the engine's documented contract, not its code:

- within a batch the event with the highest ``seq_no`` per key wins;
- it lands only if its ``seq_no`` beats the row's stored version, so
  redelivered and late events that lost the race are dropped;
- every landed event stamps ``_SNOWFLAKE_UPDATED_AT`` with the batch's
  sync time (the newest ``event_ts`` among that table's events);
- a new key is inserted with ``_SNOWFLAKE_INSERTED_AT`` = sync time;
- a delete keeps the row's values and sets ``_SNOWFLAKE_DELETED``.

All payload values are written as strings (the ``after`` map is
``map<string,string>``) and all state is kept in the same string form.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random
from decimal import Decimal

import numpy as np

from sfguide_getting_started_openflow_postgresql_cdc_spark import schemas
from sfguide_getting_started_openflow_postgresql_cdc_spark.sources import healthcare

TS_FMT = "%Y-%m-%d %H:%M:%S"


def norm(v) -> str | None:
    """Canonical string form shared by payloads, expected state and the
    replica rows read back for comparison."""
    if v is None:
        return None
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, dt.datetime):
        return v.strftime(TS_FMT)
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (Decimal, float)):
        return f"{Decimal(str(v)):.2f}"
    return str(v)


def write_jsonl(path: str, events: list[tuple]) -> int:
    """Write ``(seq_no, event_ts, table, op, after)`` tuples as envelope
    lines; returns the payload size in bytes."""
    lines = [
        json.dumps(
            {"seq_no": s, "event_ts": ts, "table_name": t, "op": op, "after": after}
        )
        for s, ts, t, op, after in events
    ]
    data = ("\n".join(lines) + "\n").encode()
    with open(path, "wb") as f:
        f.write(data)
    return len(data)


class ReplicaModel:
    """Expected replica state for dict-shaped tables (the clinic fixture):
    ``rows[table][pk] = [values, inserted_at, updated_at, deleted, seq]``."""

    def __init__(self, fields: dict[str, list[str]], pks: dict[str, str]):
        self.fields = fields
        self.pks = pks
        self.rows: dict[str, dict[str, list]] = {t: {} for t in fields}

    def load_snapshot(self, table: str, recs: list[dict], load_ts: str) -> None:
        pk = self.pks[table]
        for r in recs:
            vals = {f: norm(r[f]) for f in self.fields[table]}
            self.rows[table][vals[pk]] = [vals, load_ts, None, False, -1]

    def apply(self, events: list[tuple]) -> None:
        by_table: dict[str, list[tuple]] = {}
        for ev in events:
            by_table.setdefault(ev[2], []).append(ev)
        for table, evs in by_table.items():
            pk = self.pks[table]
            sync_ts = max(ev[1] for ev in evs)
            latest: dict[str, tuple] = {}
            for ev in evs:
                k = ev[4][pk]
                if k not in latest or ev[0] > latest[k][0]:
                    latest[k] = ev
            rows = self.rows[table]
            for k, (seq, _ts, _t, op, after) in latest.items():
                full = {f: after.get(f) for f in self.fields[table]}
                cur = rows.get(k)
                if cur is None:
                    rows[k] = [full, sync_ts, sync_ts if op != "I" else None,
                               op == "D", seq]
                elif seq > cur[4]:
                    if op != "D":
                        cur[0] = full
                    cur[2], cur[3], cur[4] = sync_ts, op == "D", seq

    def expected_rows(self, table: str) -> list[tuple]:
        out = []
        for vals, ins, upd, deleted, _seq in self.rows[table].values():
            out.append(
                tuple(vals[f] for f in self.fields[table])
                + (ins, upd, "true" if deleted else "false")
            )
        return sorted(out, key=repr)


# ---------------------------------------------------------------------------
# clinic_live: the healthcare fixture's "busy clinic morning", continued
# ---------------------------------------------------------------------------

# Each continuation batch merges appointments plus one other table, with
# a fixed event count per position in the cycle: the seed varies which
# rows change, not how much work a batch is.
CLINIC_MIX = (("visits", 6), ("patients", 12), ("doctors", 18))

_REASONS = ["Annual physical", "Flu symptoms", "Back pain", "Headache",
            "Follow-up", "Skin rash", "Allergies", "Cough", "Checkup"]
_DIAGNOSES = ["Hypertension", "Influenza", "Migraine", "Asthma", "Healthy",
              "Sinusitis", "Bronchitis", "Arthritis"]
_TREATMENTS = ["Rest and fluids", "Prescribed medication", "Lab work ordered",
               "Follow-up in 2 weeks", "No treatment needed"]
_INSURERS = ["Medicare", "Medicaid", "BlueCross", "Aetna", "Cigna", "United"]
_NEXT = {"scheduled": "confirmed", "confirmed": "checked_in",
         "checked_in": "in_progress", "in_progress": "completed"}


class ClinicStream:
    """Continuation of the scripted clinic morning: batches of 1-20
    envelope events over the four healthcare tables, with bookings,
    status moves, completions with visit inserts, soft-delete
    cancellations, doctor and patient updates, a few events redelivered
    from the previous batch and a few held back one batch (late)."""

    def __init__(self, seed: int, out_dir: str, load_ts: str):
        self.rng = random.Random(seed)
        self.out_dir = out_dir
        os.makedirs(out_dir, exist_ok=True)
        self.as_of = healthcare.AS_OF
        snap = healthcare.generate_snapshot()
        fields = {t: [f.name for f in s.fields]
                  for t, s in schemas.HEALTHCARE_TABLES.items()}
        self.model = ReplicaModel(fields, dict(schemas.PRIMARY_KEYS))
        for t, recs in snap.items():
            self.model.load_snapshot(t, recs, load_ts)
        # the source database: current rows in payload form
        self.src = {t: {norm(r[schemas.PRIMARY_KEYS[t]]):
                        {f: norm(r[f]) for f in fields[t]} for r in recs}
                    for t, recs in snap.items()}
        self.seq = 0
        self.n = 0
        self.prev: list[tuple] = []
        self.held: list[tuple] = []
        # the scripted morning comes first, as one (warm-up) batch file
        scripted = []
        for b in healthcare.generate_scenario(snap):
            for e in b:
                self.seq = max(self.seq, e.seq_no)
                after = {k: norm(v) for k, v in e.after.items()}
                scripted.append((e.seq_no, norm(e.event_ts), e.table_name,
                                 e.op, after))
                self._source_apply(e.table_name, e.op, after)
        self.pending = [scripted]
        self.next_id = {t: max(int(k) for k in self.model.rows[t]) + 1
                        for t in self.src}

    def _source_apply(self, table, op, after):
        pk = self.model.pks[table]
        if op == "D":
            self.src[table].pop(after[pk], None)
        else:
            self.src[table][after[pk]] = dict(after)

    def _emit(self, evs, table, op, after, ts):
        self.seq += 1
        evs.append((self.seq, ts, table, op, after))
        self._source_apply(table, op, after)

    def _continuation(self) -> list[tuple]:
        rng = self.rng
        i = self.n - len(self.pending)
        other, size = CLINIC_MIX[i % len(CLINIC_MIX)]
        # each batch is one more minute of the morning (08:11 onwards)
        ts = (dt.datetime.combine(self.as_of, dt.time(8, 0))
              + dt.timedelta(minutes=11 + i)).strftime(TS_FMT)
        evs: list[tuple] = []
        appts = self.src["appointments"]
        n_other = 1 if other == "doctors" else 2
        # one cancellation (a delete, soft in the replica), then bookings
        # and status moves
        self._cancel_or_book(evs, ts)
        for _ in range(size - n_other - 1):
            movable = sorted(k for k, a in appts.items()
                             if a["status"] in _NEXT
                             and a["appointment_date"] == self.as_of.isoformat())
            if movable and rng.random() < 0.6:
                row = dict(appts[rng.choice(movable)])
                row["status"] = _NEXT[row["status"]]
                row["updated_at"] = ts
                self._emit(evs, "appointments", "U", row, ts)
            else:
                self._book(evs, ts)
        if other == "visits":
            done = sorted(k for k, a in appts.items() if a["status"] == "completed")
            for k in rng.sample(done, 2):
                self._visit(evs, appts[k], ts)
        elif other == "patients":
            for k in rng.sample(sorted(self.src["patients"]), 2):
                row = dict(self.src["patients"][k])
                row["insurance_provider"] = rng.choice(_INSURERS)
                row["phone"] = f"555-9{rng.randint(0, 999):03d}"
                self._emit(evs, "patients", "U", row, ts)
        else:
            row = dict(self.src["doctors"][rng.choice(sorted(self.src["doctors"]))])
            row["accepting_new_patients"] = (
                "false" if row["accepting_new_patients"] == "true" else "true")
            self._emit(evs, "doctors", "U", row, ts)
        # at-least-once: one appointments event of the previous batch is
        # delivered again; out of order: one is held back a batch
        redo = [e for e in self.prev if e[2] == "appointments"][:1]
        late = self.held
        j = rng.choice([j for j, e in enumerate(evs) if e[2] == "appointments"])
        self.held = [evs.pop(j)]
        out = evs + redo + late
        rng.shuffle(out)
        return out

    def _cancel_or_book(self, evs, ts):
        open_ = sorted(k for k, a in self.src["appointments"].items()
                       if a["status"] in ("scheduled", "confirmed"))
        if open_:
            self._emit(evs, "appointments", "D",
                       {"appointment_id": self.rng.choice(open_)}, ts)
        else:
            self._book(evs, ts)

    def _book(self, evs, ts):
        rng = self.rng
        aid = self.next_id["appointments"]
        self.next_id["appointments"] += 1
        day = self.as_of + dt.timedelta(days=rng.choice([0, 0, 0, 1, 2]))
        self._emit(evs, "appointments", "I", {
            "appointment_id": str(aid),
            "patient_id": str(rng.randint(1, 100)),
            "doctor_id": str(rng.randint(1, 10)),
            "appointment_date": day.isoformat(),
            "appointment_time": f"{rng.randint(8, 16):02d}:"
                                f"{rng.choice([0, 15, 30, 45]):02d}:00",
            "status": "scheduled",
            "reason_for_visit": rng.choice(_REASONS),
            "appointment_type": rng.choice(["routine", "urgent"]),
            "created_at": ts,
            "updated_at": ts,
        }, ts)

    def _visit(self, evs, appt, ts):
        vid = self.next_id["visits"]
        self.next_id["visits"] += 1
        start = dt.datetime.strptime(
            f"{appt['appointment_date']} {appt['appointment_time']}", TS_FMT)
        row = {
            "visit_id": str(vid),
            "appointment_id": appt["appointment_id"],
            "patient_id": appt["patient_id"],
            "doctor_id": appt["doctor_id"],
            "visit_date": appt["appointment_date"],
            "visit_start_time": start.strftime(TS_FMT),
            "visit_end_time": (start + dt.timedelta(minutes=30)).strftime(TS_FMT),
            "diagnosis": self.rng.choice(_DIAGNOSES),
            "treatment_notes": self.rng.choice(_TREATMENTS),
            "follow_up_required": self.rng.choice(["true", "false"]),
            "prescription_given": self.rng.choice(["true", "false"]),
            "total_charge": f"{self.rng.randint(7500, 35000) / 100:.2f}",
        }
        self._emit(evs, "visits", "I", row, ts)

    def next_batch(self) -> tuple[str, int, int]:
        """Write the next batch file; returns (path, n_events, bytes) and
        advances the expected state as if the batch were applied."""
        if self.n < len(self.pending):
            evs = self.pending[self.n]
        else:
            evs = self._continuation()
        path = os.path.join(self.out_dir, f"batch_{self.n:05d}.jsonl")
        nbytes = write_jsonl(path, evs)
        self.model.apply(evs)
        self.prev = evs
        self.n += 1
        return path, len(evs), nbytes


# ---------------------------------------------------------------------------
# orders_churn: a keyed orders table plus customers, at volume
# ---------------------------------------------------------------------------

STATUSES = np.array(["F", "O", "P"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
NATIONS = ["ALGERIA", "ARGENTINA", "BRAZIL", "CANADA", "EGYPT", "ETHIOPIA",
           "FRANCE", "GERMANY", "INDIA", "INDONESIA", "IRAN", "IRAQ", "JAPAN",
           "JORDAN", "KENYA", "MOROCCO", "MOZAMBIQUE", "PERU", "CHINA",
           "ROMANIA", "SAUDI ARABIA", "VIETNAM", "RUSSIA", "UNITED KINGDOM",
           "UNITED STATES"]
EPOCH = dt.date(1970, 1, 1)
BASE_DAY = (dt.date(1992, 1, 1) - EPOCH).days
SYNC_T0 = dt.datetime(2001, 9, 1, 0, 0, 0)

class _Keyed:
    """Columnar expected replica for a dense integer-keyed table: key k
    lives at index k-1. Meta timestamps are stored as sync-tick ids
    (-1 = NULL, 0 = bootstrap load time, b = sync of batch b)."""

    def __init__(self, cols: dict[str, np.ndarray]):
        n = len(next(iter(cols.values())))
        self.n = n
        self.cols = dict(cols)
        self.exists = np.ones(n, bool)
        self.ins = np.zeros(n, np.int64)
        self.upd = np.full(n, -1, np.int64)
        self.deleted = np.zeros(n, bool)
        self.seq = np.full(n, -1, np.int64)
        self.null = np.zeros(n, bool)
        self.src_live = self.exists.copy()  # the source database's view

    def reserve(self, size: int) -> None:
        """Grow every array to hold keys up to ``size`` (new keys start
        absent)."""
        extra = size - len(self.exists)
        if extra <= 0:
            return
        extra = max(extra, len(self.exists))

        def pad(a, fill):
            return np.concatenate([a, np.full(extra, fill, a.dtype)])

        self.cols = {c: pad(a, 0) for c, a in self.cols.items()}
        self.exists, self.src_live = pad(self.exists, False), pad(self.src_live, False)
        self.ins, self.upd = pad(self.ins, 0), pad(self.upd, -1)
        self.deleted, self.null = pad(self.deleted, False), pad(self.null, False)
        self.seq = pad(self.seq, -1)

    def apply(self, seq, op, idx, vals, tick):
        """Apply one batch: arrays of seq, op code (0 I, 1 U, 2 D), key
        index and payload columns (ignored on deletes)."""
        order = np.lexsort((seq, idx))
        last = np.ones(len(order), bool)
        last[:-1] = idx[order][1:] != idx[order][:-1]
        win = order[last]
        new = ~self.exists[idx[win]]
        win = win[new | (seq[win] > self.seq[idx[win]])]
        k, d = idx[win], op[win] == 2
        new = ~self.exists[k]
        put = ~d
        for c, a in vals.items():
            self.cols[c][k[put]] = a[win[put]]
        # a delete of a never-seen key leaves a key-only tombstone
        self.null[k[put]] = False
        self.null[k[d & new]] = True
        self.ins[k[new]] = tick
        self.upd[k] = np.where(new & (op[win] == 0), -1, tick)
        self.deleted[k] = d
        self.seq[k] = seq[win]
        self.exists[k] = True


class OrdersStream:
    """Orders + customer envelope stream. Batch sizes cycle through
    ``sizes``; 80% of order updates hit the newest 10% of keys; some
    inserts of new keys, a few percent deletes, a few percent of the
    previous batch redelivered and ~1% held back to the next batch;
    customers get a small share of balance updates."""

    def __init__(self, seed: int, out_dir: str, n_orders: int,
                 n_customers: int, sizes: tuple[int, ...]):
        self.rng = np.random.default_rng(seed)
        self.out_dir = out_dir
        os.makedirs(out_dir, exist_ok=True)
        self.sizes = sizes
        rng = self.rng
        n = n_orders
        orders = {
            "o_custkey": rng.integers(1, n_customers + 1, n),
            "o_orderstatus": rng.integers(0, 3, n),
            "o_totalprice": rng.integers(90_000, 50_000_000, n),  # cents
            "o_orderdate": BASE_DAY + rng.integers(0, 2400, n),
            "o_orderpriority": rng.integers(0, 5, n),
        }
        cust = {
            "c_nationkey": rng.integers(0, 25, n_customers),
            "c_acctbal": rng.integers(-99_999, 999_999, n_customers),
            "c_mktsegment": rng.integers(0, 5, n_customers),
        }
        self.orders = _Keyed(orders)
        self.cust = _Keyed(cust)
        self.n_customers = n_customers
        self.next_key = n_orders + 1
        self.seq = 0
        self.n = 0
        self.prev: list[tuple] = []
        self.held: list[tuple] = []

    # -- snapshot files ------------------------------------------------------
    def write_snapshot(self, spark_dir: str) -> dict[str, str]:
        import pyarrow as pa
        import pyarrow.parquet as pq

        os.makedirs(spark_dir, exist_ok=True)
        o, c = self.orders, self.cust
        n, m = o.n, c.n
        keys = np.arange(1, n + 1, dtype=np.int64)
        tables = {
            "orders": pa.table({
                "o_orderkey": keys,
                "o_custkey": o.cols["o_custkey"][:n],
                "o_orderstatus": STATUSES[o.cols["o_orderstatus"][:n]],
                "o_totalprice": _cents_to_decimal(o.cols["o_totalprice"][:n]),
                "o_orderdate": pa.array(
                    o.cols["o_orderdate"][:n].astype(np.int32), pa.date32()),
                "o_orderpriority": PRIORITIES[o.cols["o_orderpriority"][:n]],
            }),
            "customer": pa.table({
                "c_custkey": np.arange(1, m + 1, dtype=np.int64),
                "c_name": [f"Customer#{k:09d}" for k in range(1, m + 1)],
                "c_nationkey": c.cols["c_nationkey"][:m].astype(np.int32),
                "c_acctbal": _cents_to_decimal(c.cols["c_acctbal"][:m]),
                "c_mktsegment": SEGMENTS[c.cols["c_mktsegment"][:m]],
            }),
            "nation": pa.table({
                "n_nationkey": np.arange(25, dtype=np.int32),
                "n_name": NATIONS,
            }),
        }
        paths = {}
        for name, tbl in tables.items():
            p = os.path.join(spark_dir, f"{name}.parquet")
            pq.write_table(tbl, p)
            paths[name] = p
        return paths

    # -- batches -------------------------------------------------------------
    def next_batch(self) -> tuple[str, int, int]:
        rng = self.rng
        size = self.sizes[self.n % len(self.sizes)]
        tick = self.n + 1
        ts = (SYNC_T0 + dt.timedelta(minutes=tick)).strftime(TS_FMT)
        n_cust = max(1, size // 20)
        n_redo = min(len(self.prev), size * 3 // 100)
        n_ins = size // 20
        n_del = size * 3 // 100
        n_upd = size - n_cust - n_redo - n_ins - n_del
        o = self.orders
        live = np.flatnonzero(o.src_live)
        hot = live[live >= int(live[-1] * 0.9)]
        upd_idx = np.where(
            rng.random(n_upd) < 0.8,
            rng.choice(hot, n_upd),
            rng.choice(live, n_upd),
        )
        del_idx = rng.choice(live, n_del, replace=False)
        # a key deleted in this batch is not also updated after its delete
        upd_idx = upd_idx[~np.isin(upd_idx, del_idx)]
        ins_idx = np.arange(self.next_key - 1, self.next_key - 1 + n_ins)
        self.next_key += n_ins
        o.reserve(self.next_key)
        idx = np.concatenate([upd_idx, ins_idx, del_idx])
        nu, ni, nd = len(upd_idx), n_ins, n_del
        op = np.array(["U"] * nu + ["I"] * ni + ["D"] * nd)
        # updates move the price, sometimes the status or the customer
        # (a group move for the per-customer aggregate)
        cols = {c: o.cols[c][idx].copy() for c in o.cols}
        cols["o_totalprice"][:nu + ni] = rng.integers(90_000, 50_000_000, nu + ni)
        cols["o_orderstatus"][:nu + ni] = rng.integers(0, 3, nu + ni)
        move = np.flatnonzero(rng.random(nu + ni) < 0.1)
        cols["o_custkey"][move] = rng.integers(1, self.n_customers + 1, len(move))
        cols["o_custkey"][nu:nu + ni] = rng.integers(1, self.n_customers + 1, ni)
        cols["o_orderdate"][nu:nu + ni] = BASE_DAY + rng.integers(0, 2400, ni)
        cols["o_orderpriority"][nu:nu + ni] = rng.integers(0, 5, ni)
        seq = self.seq + 1 + rng.permutation(len(idx))  # shuffled seq order
        self.seq += len(idx)
        o.src_live[ins_idx] = True
        o.src_live[del_idx] = False

        c = self.cust
        cidx = rng.choice(c.n, n_cust, replace=False)
        ccols = {k: c.cols[k][cidx].copy() for k in c.cols}
        ccols["c_acctbal"] = rng.integers(-99_999, 999_999, n_cust)
        cseq = self.seq + 1 + np.arange(n_cust)
        self.seq += n_cust

        evs = []
        for j in range(len(idx)):
            k = int(idx[j]) + 1
            if op[j] == "D":
                after = {"o_orderkey": str(k)}
            else:
                after = {
                    "o_orderkey": str(k),
                    "o_custkey": str(int(cols["o_custkey"][j])),
                    "o_orderstatus": str(STATUSES[cols["o_orderstatus"][j]]),
                    "o_totalprice": _cents_str(int(cols["o_totalprice"][j])),
                    "o_orderdate": str(EPOCH + dt.timedelta(
                        days=int(cols["o_orderdate"][j]))),
                    "o_orderpriority": str(PRIORITIES[cols["o_orderpriority"][j]]),
                }
            evs.append((int(seq[j]), ts, "orders", str(op[j]), after))
        for j in range(n_cust):
            k = int(cidx[j]) + 1
            evs.append((int(cseq[j]), ts, "customer", "U", {
                "c_custkey": str(k),
                "c_name": f"Customer#{k:09d}",
                "c_nationkey": str(int(ccols["c_nationkey"][j])),
                "c_acctbal": _cents_str(int(ccols["c_acctbal"][j])),
                "c_mktsegment": str(SEGMENTS[ccols["c_mktsegment"][j]]),
            }))
        # ~1% of this batch's order events arrive one batch late; a few
        # percent of the previous batch is redelivered
        n_late = len(idx) // 100
        late_pos = set(rng.choice(len(idx), n_late, replace=False).tolist())
        held, self.held = self.held, [evs[j] for j in sorted(late_pos)]
        fresh = [e for j, e in enumerate(evs) if j not in late_pos]
        redo = [self.prev[j] for j in
                rng.choice(len(self.prev), n_redo, replace=False)] if n_redo else []
        out = fresh + held + redo
        order = rng.permutation(len(out))
        out = [out[j] for j in order]

        # expected replica state for everything delivered in this batch
        self._model_apply(out, tick)
        path = os.path.join(self.out_dir, f"batch_{self.n:05d}.jsonl")
        nbytes = write_jsonl(path, out)
        self.prev = fresh
        self.n += 1
        return path, len(out), nbytes

    def _model_apply(self, evs, tick):
        for table, keyed, pkc, conv in (
            ("orders", self.orders, "o_orderkey", _ORDERS_CONV),
            ("customer", self.cust, "c_custkey", _CUST_CONV),
        ):
            mine = [e for e in evs if e[2] == table]
            if not mine:
                continue
            seq = np.array([e[0] for e in mine], np.int64)
            op = np.array(["IUD".index(e[3]) for e in mine])
            idx = np.array([int(e[4][pkc]) - 1 for e in mine], np.int64)
            vals = {c: np.array([f(e[4][c]) if c in e[4] else 0 for e in mine],
                                np.int64) for c, f in conv.items()}
            keyed.apply(seq, op, idx, vals, tick)

    # -- expected state in comparable form ------------------------------------
    def tick_ts(self, tick: int, load_ts: str) -> str | None:
        if tick < 0:
            return None
        if tick == 0:
            return load_ts
        return (SYNC_T0 + dt.timedelta(minutes=tick)).strftime(TS_FMT)

    def expected_orders_table(self, load_ts: str):
        """pyarrow table with the columns the replica check projects."""
        import pyarrow as pa

        o = self.orders
        k = np.flatnonzero(o.exists)
        ticks = np.arange(-1, self.n + 1)
        names = np.array([self.tick_ts(int(t), load_ts) for t in ticks], object)
        tomb = o.null[k]
        return pa.table({
            "k": (k + 1).astype(np.int64),
            "cust": pa.array(o.cols["o_custkey"][k], mask=tomb),
            "status": pa.array(STATUSES[o.cols["o_orderstatus"][k]], mask=tomb),
            "cents": pa.array(o.cols["o_totalprice"][k], mask=tomb),
            "day": pa.array(o.cols["o_orderdate"][k].astype(np.int32), mask=tomb),
            "prio": pa.array(PRIORITIES[o.cols["o_orderpriority"][k]], mask=tomb),
            "ins": pa.array(names[o.ins[k] + 1], pa.string()),
            "upd": pa.array(names[o.upd[k] + 1], pa.string()),
            "del": o.deleted[k],
        })

    def expected_customers(self, load_ts: str) -> dict[int, tuple]:
        c = self.cust
        return {
            i + 1: (int(c.cols["c_acctbal"][i]), load_ts,
                    self.tick_ts(int(c.upd[i]), load_ts), bool(c.deleted[i]))
            for i in range(c.n)
        }

    def expected_mv(self) -> dict[int, tuple[int, int]]:
        """COUNT(*) and SUM(o_totalprice) in cents per customer over the
        live (not soft-deleted) expected rows."""
        o = self.orders
        live = o.exists & ~o.deleted
        cust = o.cols["o_custkey"][live]
        n = np.bincount(cust, minlength=self.n_customers + 1)
        s = np.zeros(self.n_customers + 1, np.int64)
        np.add.at(s, cust, o.cols["o_totalprice"][live])
        return {int(g): (int(n[g]), int(s[g])) for g in np.flatnonzero(n)}


def _cents_str(c: int) -> str:
    sign = "-" if c < 0 else ""
    c = abs(c)
    return f"{sign}{c // 100}.{c % 100:02d}"


def _cents_to_decimal(a: np.ndarray):
    """decimal(12,2) arrow array whose unscaled values are the cents."""
    import pyarrow as pa

    raw = np.empty((len(a), 2), np.int64)
    raw[:, 0] = a
    raw[:, 1] = np.where(a < 0, -1, 0)  # 128-bit sign extension
    return pa.Array.from_buffers(
        pa.decimal128(12, 2), len(a), [None, pa.py_buffer(raw.tobytes())]
    )


def _day(s: str) -> int:
    return (dt.date.fromisoformat(s) - EPOCH).days


_ORDERS_CONV = {
    "o_custkey": int,
    "o_orderstatus": lambda s: int(np.flatnonzero(STATUSES == s)[0]),
    "o_totalprice": lambda s: int(Decimal(s) * 100),
    "o_orderdate": _day,
    "o_orderpriority": lambda s: int(np.flatnonzero(PRIORITIES == s)[0]),
}
_CUST_CONV = {
    "c_nationkey": int,
    "c_acctbal": lambda s: int(Decimal(s) * 100),
    "c_mktsegment": lambda s: int(np.flatnonzero(SEGMENTS == s)[0]),
}

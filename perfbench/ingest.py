"""Ingest part of the ``pipeline`` workload — the write path: the
reference's daily SCD Type 1 loads (P1–P3) and its Firehose CTR stream
(P4), run serially as one pipeline chain.

Merge ops: a seeded generator lands a Task-shaped table (``schemas.SF_TASK``)
and a wide Matter-like table (120 columns, a benchmark-side ``ObjectSchema``)
as version 0, then writes CSV increments holding updates, inserts, in-batch
duplicate keys, exact-recency ties and stale rows that must lose. Increments
come as small daily deltas (1% of the target) and backfills (10%). One op
is ``versioned.read_current`` → ``pipelines.salesforce_ingest`` →
``versioned.write_version`` → ``versioned.vacuum``.

Stream ops: a fixed backlog of Firehose-style JSON files of base64 CTR
records, ~10% duplicate ContactIds, a share out of order within the
watermark and a share late beyond it, drained through
``streaming.ctr.build_ctr_stream`` → ``start_append_sink`` with
``processAllAvailable()`` from a fresh checkpoint. One op is one
micro-batch (its trigger duration).

One cycle is: the next Task increment, the next Matter increment, one drain,
the next Task increment. Each table's increments alternate daily and
backfill, so after the warm-up one cycle runs a Task backfill, a Matter
backfill, three micro-batches and a Task daily. Warm-up lands both bases,
then runs one daily merge per table and one drain.

Correctness: each final table equals an in-memory SCD1 model of the
increments applied (latest per key, strictly newer wins, ties broken by
the remaining columns descending, nulls last); each drain's output holds
exactly the generator's unique on-time ContactIds, none twice.
"""

from __future__ import annotations

import base64
import csv
import json
import os
from datetime import datetime, timedelta

import numpy as np
import pandas as pd
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.parquet as pq

from harness import Part, canonical, noop_write, now, wall

N_TASK = 20_000
N_MATTER = 2_000
MATTER_COLS = 120
DAILY, BACKFILL = 0.01, 0.10
MAX_CYCLES = 3
CTR_FILES, CTR_PER_FILE, FILES_PER_TRIGGER = 3, 3_000, 1
CTR_DUP, CTR_OOO, CTR_LATE = 0.10, 0.10, 0.03
TRUTHY = ("t", "T", "True", "true", "1")
BOOLS = ("true", "false", "1", "0", "t", "")
EPOCH = datetime(2024, 1, 1)


def matter_schema():
    from redshift_etl_spark import schemas as S

    classes = (S.STRING, S.FLOAT0, S.INT0, S.BOOL01, S.TIMESTAMP)
    fields = {"id": S.STRING, "name": S.STRING, "createddate": S.TIMESTAMP,
              "lastmodifieddate": S.TIMESTAMP}
    for i in range(MATTER_COLS - len(fields)):
        cls = classes[i % len(classes)]
        fields[f"c{i:03d}_{cls}"] = cls
    return S.ObjectSchema("perfbench_matter", ("id",), "lastmodifieddate", fields)


# --- SCD1 tables: generator and model ---------------------------------------

class Table:
    """One target object: its schema, its generator and the in-memory SCD1
    model of every increment applied so far."""

    def __init__(self, schema, prefix: str, n_base: int, rng, out: str):
        self.schema = schema
        self.fields = list(schema.fields.items())
        self.rec = [n for n, _ in self.fields].index(schema.recency_col)
        self.prefix = prefix
        self.rng = rng
        self.out = out
        self.n_base = n_base
        self.next_id = 0
        self.clock = EPOCH + timedelta(days=60)
        self.state: dict[str, tuple] = {}
        rows = self._rows([self._new_key() for _ in range(n_base)],
                          self._stamps(EPOCH, 60, n_base))
        self.base = self._write("base", rows)
        self._apply(rows)
        self.increments: list[tuple[str, int]] = []  # (csv path, rows)
        self.changed: list[int] = []
        self.states = [dict(self.state)]

    def _new_key(self) -> str:
        self.next_id += 1
        return f"{self.prefix}{self.next_id:08d}"

    def _stamps(self, start: datetime, days: float, n: int) -> list[str]:
        secs = self.rng.integers(0, int(days * 86_400), n).astype("timedelta64[s]")
        t = np.datetime64(start, "s") + secs
        return [x.replace("T", " ") for x in np.datetime_as_string(t, unit="s")]

    def _column(self, name: str, cls: str, n: int) -> list[str]:
        r = self.rng
        if cls == "bool01":
            return [BOOLS[i] for i in r.integers(0, len(BOOLS), n)]
        if cls == "string":
            vals = [f"{name[:3]}{v}" for v in r.integers(0, 500, n)]
        elif cls == "timestamp":
            vals = self._stamps(EPOCH, 90, n)
        elif cls == "int0":
            vals = [f"{v / 100:.1f}" if f else str(v)
                    for v, f in zip(r.integers(0, 10_000, n), r.random(n) < 0.2)]
        else:
            vals = [f"{v:.2f}" for v in r.uniform(-1e4, 1e5, n)]
        return ["" if b else v for v, b in zip(vals, r.random(n) < 0.05)]

    def _rows(self, keys: list[str], recency: list[str]) -> list[list[str]]:
        cols = [self._column(n, c, len(keys)) for n, c in self.fields]
        cols[0], cols[self.rec] = keys, recency
        return [list(row) for row in zip(*cols)]

    def _typed(self, rows: list[list[str]]) -> list[tuple]:
        """The engine's coercion rules (``transforms.normalize``), per column."""
        cols = []
        for j, (_, cls) in enumerate(self.fields):
            raw = [row[j] for row in rows]
            if cls == "string":
                cols.append([v.strip() or None for v in raw])
            elif cls == "timestamp":
                cols.append([datetime.fromisoformat(v) if v else None for v in raw])
            elif cls == "bool01":
                cols.append([1 if v in TRUTHY else 0 for v in raw])
            elif cls == "int0":
                cols.append([int(float(v)) if v else 0 for v in raw])
            else:
                cols.append([float(v) if v else 0.0 for v in raw])
        return list(zip(*cols))

    def _order(self, t: tuple):
        """Winner order of ``merge_scd1``: recency, then every other
        column, descending with nulls last."""
        return tuple((0,) if v is None else (1, v) for v in t[self.rec:self.rec + 1]
                     + t[1:self.rec] + t[self.rec + 1:])

    def _apply(self, rows: list[list[str]]) -> int:
        latest: dict[str, tuple] = {}
        for t in self._typed(rows):
            cur = latest.get(t[0])
            if cur is None or self._order(t) > self._order(cur):
                latest[t[0]] = t
        changed = 0
        for k, t in latest.items():
            old = self.state.get(k)
            if old is None or t[self.rec] > old[self.rec]:
                self.state[k] = t
                changed += 1
        return changed

    def _write(self, name: str, rows: list[list[str]]) -> str:
        path = os.path.join(self.out, f"{self.prefix}_{name}.csv")
        with open(path, "w", newline="") as f:
            w = csv.writer(f)
            w.writerow([n.upper() if i % 2 else n for i, (n, _) in enumerate(self.fields)])
            w.writerows(rows)
        return path

    def add_increment(self, share: float) -> None:
        """Updates, stale rows, inserts, then in-batch duplicates of a
        tenth of them: one newer and one with a tied recency."""
        n = max(1, int(share * self.n_base))
        self.clock += timedelta(hours=6)
        keys = list(self.state)
        kind = self.rng.random(n)
        picks = self.rng.integers(0, len(keys), n)
        fresh = self._stamps(self.clock, 0.2, n)
        ks, recs = [], []
        for u, i, f in zip(kind, picks, fresh):
            if u < 0.55:  # update an existing key
                ks.append(keys[i])
                recs.append(f)
            elif u < 0.65:  # stale: older than the row it would replace
                ks.append(keys[i])
                old = self.state[keys[i]][self.rec] - timedelta(hours=1)
                recs.append(old.strftime("%Y-%m-%d %H:%M:%S"))
            else:  # insert a new key
                ks.append(self._new_key())
                recs.append(f)
        m = n // 10
        ks += ks[:m] * 2
        recs += self._stamps(self.clock, 0.3, m) + recs[:m]
        rows = self._rows(ks, recs)
        rows = [rows[i] for i in self.rng.permutation(len(rows))]
        path = self._write(f"inc{len(self.increments):03d}", rows)
        self.increments.append((path, len(rows)))
        self.changed.append(self._apply(rows))
        self.states.append(dict(self.state))

    def frame(self, applied: int) -> pd.DataFrame:
        """The model after ``applied`` increments, as the table would read."""
        cols = [n for n, _ in self.fields]
        return pd.DataFrame(list(self.states[applied].values()), columns=cols)


# --- CTR backlog -------------------------------------------------------------

def _iso(t: datetime) -> str:
    return t.strftime("%Y-%m-%dT%H:%M:%SZ")


def generate_ctr(out: str, rng) -> dict:
    """Backlog files with strictly increasing mtimes; returns the expected
    unique on-time ContactId count and the injected duplicate count."""
    os.makedirs(out, exist_ok=True)
    t0 = datetime(2024, 7, 1, 12, 0, 0)
    on_time: set[str] = set()
    recent: list[str] = []
    dups = late = 0
    cid = 0
    for f in range(CTR_FILES):
        lines = []
        for _ in range(CTR_PER_FILE):
            u = rng.random()
            if u < CTR_DUP and recent:
                lines.append(recent[int(rng.integers(max(0, len(recent) - CTR_PER_FILE), len(recent)))])
                dups += 1
                continue
            cid += 1
            start = t0 + timedelta(minutes=2 * f, seconds=int(rng.integers(0, 120)))
            # late-event filtering uses the previous batch's watermark, so
            # the first two batches never drop
            is_late = f >= 2 * FILES_PER_TRIGGER and u > 1 - CTR_LATE
            if is_late:
                start = t0 - timedelta(hours=3, seconds=int(rng.integers(0, 3 * 3600)))
                late += 1
            elif u > 1 - CTR_LATE - CTR_OOO:
                start -= timedelta(seconds=int(rng.integers(300, 1800)))
            dur = int(rng.integers(30, 900))
            rec = {
                "ContactId": f"c-{cid:08d}",
                "InitialContactId": f"c-{cid:08d}",
                "Channel": "VOICE",
                "InitiationMethod": ("INBOUND", "OUTBOUND", "CALLBACK")[cid % 3],
                "InitiationTimestamp": _iso(start),
                "DisconnectTimestamp": _iso(start + timedelta(seconds=dur)),
                "Agent": {
                    "ARN": f"arn:aws:connect:us-east-1:1:instance/i/agent/a{cid % 50}",
                    "Username": f"agent{cid % 50}",
                    "ConnectedToAgentTimestamp": _iso(start + timedelta(seconds=20)),
                    "AgentInteractionDuration": dur - 20,
                    "NumberOfHolds": int(rng.integers(0, 3)),
                },
                "Queue": {"ARN": f"arn:aws:connect:us-east-1:1:instance/i/queue/q{cid % 7}"},
                "CustomerEndpoint": {"Address": f"+1555{cid:07d}", "Type": "TELEPHONE_NUMBER"},
            }
            line = json.dumps({"data": base64.b64encode(json.dumps(rec).encode()).decode()})
            lines.append(line)
            if not is_late:
                on_time.add(rec["ContactId"])
                recent.append(line)
        path = os.path.join(out, f"part-{f:04d}.json")
        with open(path, "w") as fh:
            fh.write("\n".join(lines) + "\n")
        os.utime(path, (1_700_000_000 + f, 1_700_000_000 + f))
    return {"records": CTR_FILES * CTR_PER_FILE, "expected": len(on_time),
            "duplicates": dups, "late": late}


# --- the workload -----------------------------------------------------------

def _dir_stats(path: str) -> tuple[int, int, int]:
    """(bytes, data files, rows) of a parquet directory."""
    size = files = rows = 0
    for name in os.listdir(path):
        if name.endswith(".parquet"):
            p = os.path.join(path, name)
            size += os.path.getsize(p)
            files += 1
            rows += pq.ParquetFile(p).metadata.num_rows
    return size, files, rows


def make(r) -> Part:
    """Generate the inputs and return the ingest ops bound to them."""
    from redshift_etl_spark import pipelines
    from redshift_etl_spark import schemas as S
    from redshift_etl_spark.sources import batch, versioned
    from redshift_etl_spark.streaming import ctr

    t = now()
    rng = np.random.default_rng(r.seed)
    data = os.path.join(r.work, "inputs")
    os.makedirs(data, exist_ok=True)
    tables = [Table(S.SF_TASK, "T", N_TASK, rng, data),
              Table(matter_schema(), "M", N_MATTER, rng, data)]
    for i in range(1 + 2 * MAX_CYCLES):  # warm-up daily, then backfill/daily pairs
        for tb in tables:
            tb.add_increment(BACKFILL if i % 2 else DAILY)
    backlog = os.path.join(data, "ctr")
    ctr_info = generate_ctr(backlog, rng)
    r.notes["generate_s"] = r.notes.get("generate_s", 0.0) + now() - t
    r.notes["ctr"] = ctr_info
    tr = r.tracer
    layer = dict.fromkeys(("read", "norm", "merge", "write", "vacuum", "bytes", "files",
                           "rows_out", "changed", "rows_in", "merges"), 0.0)
    stream = {"add": 0.0, "get": 0.0, "plan": 0.0, "wal": 0.0, "state_rows": 0,
              "state_mem": 0, "dropped": 0, "removed": 0, "injected": 0, "batches": 0, "drains": 0}
    applied = [0, 0]
    roots: list[str] = []
    drains = [0]
    failures = [0]
    warm_failures = [0]
    cycles = [0]

    def merge(spark, ti: int, op: int) -> float:
        tb = tables[ti]
        path, n_rows = tb.increments[applied[ti]]
        root = roots[ti]
        t0 = now()
        with tr.span("op", op):
            with tr.span("versioned.read_current", op):
                target = versioned.read_current(spark, root)
            with tr.span("pipelines.salesforce_ingest", op):
                merged = pipelines.salesforce_ingest(spark, path, tb.schema, target)
            tw = now()
            with tr.span("versioned.write_version", op):
                v = versioned.write_version(merged, root)
            tv = now()
            with tr.span("versioned.vacuum", op):
                versioned.vacuum(root)
        t1 = now()
        applied[ti] += 1
        r.add_rows(n_rows)
        if r.trace:
            # self times from prefixes of the op's plan, materialised to the
            # noop sink after the op so that they do not warm its inputs
            tp = now()
            noop_write(versioned.read_version(spark, root, v - 1))
            p_read = now() - tp
            tp = now()
            noop_write(batch.read_csv_object(spark, path, tb.schema))
            p_norm = now() - tp
            tp = now()
            noop_write(pipelines.salesforce_ingest(
                spark, path, tb.schema, versioned.read_version(spark, root, v - 1)))
            p_merge = now() - tp
            size, files, rows_out = _dir_stats(os.path.join(root, f"v={v}"))
            changed = tb.changed[applied[ti] - 1]
            for k, val in (("read", p_read), ("norm", p_norm),
                           ("merge", max(p_merge - p_read - p_norm, 0.0)),
                           ("write", max(tv - tw - p_merge, 0.0)), ("vacuum", t1 - tv),
                           ("bytes", size), ("files", files), ("rows_out", rows_out),
                           ("changed", changed), ("rows_in", n_rows), ("merges", 1)):
                layer[k] += val
        return t1 - t0

    def drain(spark, op0: int) -> list[float]:
        """Drain the whole backlog from a fresh checkpoint; returns the
        trigger durations of the batches that read data."""
        drains[0] += 1
        out = os.path.join(r.work, "stream", f"d{drains[0]}")
        t0, w0 = now(), wall()
        with tr.span("streaming.ctr.drain", op0):
            sdf = ctr.build_ctr_stream(spark, backlog, max_files_per_trigger=FILES_PER_TRIGGER)
            q = ctr.start_append_sink(sdf, os.path.join(out, "target"), os.path.join(out, "ckpt"))
            try:
                q.processAllAvailable()
            finally:
                q.stop()
            progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
        # Spark reports wall durations; take out the drain's steal share
        unstolen = (now() - t0) / (wall() - w0)
        ids = ds.dataset(os.path.join(out, "target")).to_table(columns=["contact_id"])[0]
        n, distinct = len(ids), len(pc.unique(ids))
        if n != ctr_info["expected"] or distinct != n:
            failures[0] += len(progress)
            r.notes.setdefault("stream_mismatch", []).append([n, distinct])
        r.add_rows(sum(p["numInputRows"] for p in progress))
        if r.trace:
            dropped = 0
            for p in progress:
                d = p["durationMs"]
                for k, key in (("add", "addBatch"), ("get", "getBatch"),
                               ("plan", "queryPlanning"), ("wal", "walCommit")):
                    stream[k] += d.get(key, 0) / 1000.0
                so = p["stateOperators"][0]
                stream["state_rows"] = max(stream["state_rows"], so["numRowsTotal"])
                stream["state_mem"] = max(stream["state_mem"], so["memoryUsedBytes"])
                dropped += so.get("numRowsDroppedByWatermark", 0)
                stream["batches"] += 1
            stream["dropped"] += dropped
            stream["removed"] += sum(p["numInputRows"] for p in progress) - n - dropped
            stream["injected"] += ctr_info["duplicates"]
            stream["drains"] += 1
        return [p["durationMs"]["triggerExecution"] / 1000.0 * unstolen for p in progress]

    def cycle(spark, op0: int, record) -> int:
        """One pipeline cycle; returns ops done."""
        ops = 0
        for step in (0, 1, "drain", 0):
            if step == "drain":
                for lat in drain(spark, op0 + ops):
                    record(lat, "batch")
                    ops += 1
            else:
                kind = "merge_" + tables[step].prefix + str(applied[step] % 2)
                record(merge(spark, step, op0 + ops), kind)
                ops += 1
        # nothing here caches a frame; clearing the cache would drop frames
        # an op of the concurrent curation lane is still using
        return ops

    def register(spark):
        pass  # the inputs are files; landing the bases is warm-up work

    def warmup(spark):
        for tb in tables:
            root = os.path.join(r.work, "store", tb.prefix)
            versioned.write_version(batch.read_csv_object(spark, tb.base, tb.schema), root)
            roots.append(root)
        merge(spark, 0, 0)
        merge(spark, 1, 1)
        drain(spark, 2)
        # warm-up ops are untimed: keep only their failures
        warm_failures[0] += failures[0]
        failures[0] = 0
        stream.update(dict.fromkeys(stream, 0))
        layer.update(dict.fromkeys(layer, 0.0))

    def measure(spark, op0: int) -> int:
        cycles[0] += 1
        return cycle(spark, op0, lambda lat, kind: r.record(lat, True, kind))

    def more() -> bool:
        return applied[0] + 2 <= len(tables[0].increments)

    def finish(spark) -> bool:
        ok = failures[0] == 0 and warm_failures[0] == 0
        r.failed += failures[0]
        for ti, tb in enumerate(tables):
            got = canonical(versioned.read_current(spark, roots[ti]).toPandas())
            want = canonical(tb.frame(applied[ti]))
            if not (got.shape == want.shape and got.equals(want)):
                r.notes.setdefault("merge_mismatch", []).append(tb.prefix)
                r.failed += 2 * cycles[0]
                ok = False
        r.notes.update(cycles=cycles[0], task_rows=N_TASK, matter_rows=N_MATTER,
                       matter_cols=MATTER_COLS, ctr_files_per_trigger=FILES_PER_TRIGGER)
        m = max(layer["merges"], 1)
        b = max(stream["batches"], 1)
        r.layer.update({
            "transforms.normalize_s": layer["norm"] / m,
            "sources.rows_in": layer["rows_in"] / m,
            "merge.merge_s": layer["merge"] / m,
            "merge.rows_changed": layer["changed"] / m,
            "merge.rows_out": layer["rows_out"] / m,
            "merge.write_amplification": layer["rows_out"] / max(layer["changed"], 1),
            "versioned.read_current_s": layer["read"] / m,
            "versioned.write_s": layer["write"] / m,
            "versioned.vacuum_s": layer["vacuum"] / m,
            "versioned.bytes_written": layer["bytes"] / m,
            "versioned.files_written": layer["files"] / m,
            "versioned.bytes_per_changed_row": layer["bytes"] / max(layer["changed"], 1),
            "stream.add_batch_s": stream["add"] / b,
            "stream.get_batch_s": stream["get"] / b,
            "stream.query_planning_s": stream["plan"] / b,
            "stream.wal_commit_s": stream["wal"] / b,
            "stream.state_rows": stream["state_rows"],
            "stream.state_mem_bytes": stream["state_mem"],
            "stream.rows_dropped_by_watermark": stream["dropped"] / max(stream["drains"], 1),
            "stream.dup_drop_ratio": stream["removed"] / max(stream["injected"], 1),
        })
        return ok

    return Part(register, warmup, measure, more, finish)

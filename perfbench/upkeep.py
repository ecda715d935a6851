"""corpus_upkeep: landing batches applied through
``streaming.stream_merge_apply`` to a bucketed ``VersionedTable`` with a
change feed, with reads interleaved at a fixed ratio.

One cycle of the schedule: three rounds of a small keyed upsert/delete
batch (10–60 keys) followed by three reads (current-snapshot aggregate,
time-travel point lookup three commits back, ``read_changes`` of the
last commit), then ``maintain()``, then a 1500-key bulk batch that
touches every bucket. Every run measures whole cycles. Every read and
the final snapshot are checked against a pure-Python replay of the
batch stream.
"""

from __future__ import annotations

import json
import os
import threading
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from harness import Workload, median, span_median, tail

ROWS = 15000
BUCKETS = 32
SMALL_KEYS = (10, 61)
BULK_KEYS = 1500
KEEP_VERSIONS = 8
READS = ("snapshot", "time_travel", "changes")
SCHEDULE = (*(("commit", *READS) * 3), "maintain", "bulk")
STATUSES = np.array(["F", "O", "P"])
DELETE = "X"  # o_orderstatus value that marks a delete in a landing batch
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
SCHEMA = pa.schema([
    ("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
    ("o_orderstatus", pa.string()), ("o_totalprice", pa.float64()),
    ("o_orderpriority", pa.string()),
])


class CorpusUpkeep(Workload):
    latency_kind = "commit"  # small keyed batches
    tail_kinds = ("bulk",)
    item = "table operations (commits, reads, maintain)"
    cycle = len(SCHEDULE)

    def generate(self) -> None:
        rng = np.random.default_rng([self.ctx.seed, 5])
        keys = np.arange(1, ROWS + 1, dtype=np.int64) * 4
        self.state = {
            int(k): (int(c), str(s), float(p), str(pr))
            for k, c, s, p, pr in zip(
                keys, rng.integers(1, 1501, ROWS), STATUSES[rng.integers(0, 3, ROWS)],
                rng.integers(1000, 450000, ROWS).astype(np.float64),
                PRIORITIES[rng.integers(0, 5, ROWS)])
        }
        self.next_key = int(keys[-1]) + 4
        self.dir = self.ctx.work / "upkeep"
        (self.dir / "landing").mkdir(parents=True)
        pq.write_table(_to_arrow(self.state), self.dir / "orders.parquet")
        self.n_commits = 0
        self.commits: list[dict] = []
        self.maintains: list[int] = []  # bytes each maintain() wrote

    def prepare(self) -> None:
        from kaj_query_engine_spark.catalog import load_fixture_catalog
        from kaj_query_engine_spark.sources.versioned import VersionedTable

        t = time.perf_counter()
        self.orders = load_fixture_catalog(self.spark, str(self.dir)).table("orders")
        self.load_times_ms.append((time.perf_counter() - t) * 1e3)
        self.table = VersionedTable(self.dir / "table")

    def warmup(self) -> None:
        """Seed the table (the one-time bucketing write), then one
        small and one bulk commit and one of each read."""
        self.table.init(self.orders, bucket_keys=["o_orderkey"], n_buckets=BUCKETS,
                        change_feed=True)
        self.versions = [self.table.current_version()]
        self.history = {self.versions[0]: dict(self.state)}  # version -> replay
        self.stream = self.spark.readStream.schema(self.orders.schema).parquet(
            str(self.dir / "landing"))
        for bulk in (False, True):
            self._land(bulk)
            self._commit(self.ctx.notrace)
        self.commits.clear()
        for kind in READS:
            self._read(kind, self.ctx.notrace)
        if self.ctx.trace:
            self.listener = _listen(self.spark)

    # ---- operations ------------------------------------------------

    @staticmethod
    def _kind(i: int) -> str:
        return SCHEDULE[i % len(SCHEDULE)]

    def before(self, i: int) -> None:
        if self._kind(i) in ("commit", "bulk"):
            self._land(bulk=self._kind(i) == "bulk")

    def _land(self, bulk: bool) -> None:
        """Write the next landing batch and apply it to the replay."""
        self.n_commits += 1
        rng = np.random.default_rng([self.ctx.seed, 6, self.n_commits])
        n = BULK_KEYS if bulk else int(rng.integers(*SMALL_KEYS))
        n_del = n_ins = n // 10 if bulk else n // 5
        live = np.fromiter(self.state, np.int64)
        touched = rng.choice(live, n - n_ins, replace=False)
        batch, feed = {}, set()
        for j, k in enumerate(touched.tolist()):
            c, s, p, pr = self.state[k]
            if j < n_del:
                batch[k] = (c, DELETE, p, pr)
                feed.add(("D", k))
                del self.state[k]
            else:
                row = (c, str(STATUSES[rng.integers(3)]), p + int(rng.integers(1, 1000)), pr)
                batch[k] = self.state[k] = row
                feed.add(("U", k, row[2]))
        for _ in range(n_ins):
            k, self.next_key = self.next_key, self.next_key + 4
            row = (int(rng.integers(1, 1501)), str(STATUSES[rng.integers(3)]),
                   float(rng.integers(1000, 450000)), str(PRIORITIES[rng.integers(5)]))
            batch[k] = self.state[k] = row
            feed.add(("I", k, row[2]))
        path = self.dir / "landing" / f"batch-{self.n_commits:06d}.parquet"
        pq.write_table(_to_arrow(batch), path)
        self.pending = {"bytes": os.path.getsize(path), "feed": feed,
                        "state": dict(self.state)}

    def op(self, i: int, tr):
        kind = self._kind(i)
        if kind in ("commit", "bulk"):
            return kind, 1, self._commit(tr)
        if kind == "maintain":
            v0 = self.table.current_version()
            with tr.span("versioned.maintain", jobs=True):
                self.table.maintain(self.spark, vacuum_keep_last=KEEP_VERSIONS)
            return kind, 1, {"v0": v0}
        return kind, 1, self._read(kind, tr)

    def _commit(self, tr) -> dict:
        from pyspark.sql import functions as F

        from kaj_query_engine_spark.streaming.ops import stream_merge_apply

        with tr.span("streaming.commit", jobs=True) as sp:
            stream_merge_apply(self.stream, self.table, ["o_orderkey"],
                               delete_condition=F.col("o_orderstatus") == DELETE)
        v = self.table.current_version()
        self.versions.append(v)
        self.history[v] = self.pending["state"]
        for old in [x for x in self.history if x not in self.versions[-KEEP_VERSIONS:]]:
            del self.history[old]
        rec = {**self.pending, "version": v, "span": sp.sid if sp else None}
        self.commits.append(rec)
        return rec

    def _read(self, kind: str, tr):
        from pyspark.sql import functions as F

        t = self.table
        if kind == "snapshot":
            with tr.span("versioned.snapshot_read", jobs=True):
                row = t.read(self.spark).agg(
                    F.count(F.lit(1)), F.sum("o_totalprice")).collect()[0]
            return (row[0], row[1])
        if kind == "time_travel":
            v = self.versions[max(0, len(self.versions) - 4)]
            keys = sorted(self.history[v])
            k = keys[len(keys) * 7 // 11]
            with tr.span("versioned.time_travel", jobs=True):
                rows = t.read(self.spark, v).filter(F.col("o_orderkey") == k).collect()
            return (v, k, [tuple(r) for r in rows])
        v0, v1 = self.versions[-2], self.versions[-1]
        with tr.span("versioned.read_changes", jobs=True):
            rows = t.read_changes(self.spark, v0, v1).collect()
        return (v1, rows)

    def record(self, i: int, res) -> bool:
        kind = self._kind(i)
        ok = True
        if kind == "snapshot":
            ok = res == (len(self.state), sum(r[2] for r in self.state.values()))
        elif kind == "time_travel":
            v, k, rows = res
            ok = rows == [(k, *self.history[v][k])]
        elif kind == "changes":
            v, rows = res
            want = next(c["feed"] for c in self.commits if c["version"] == v)
            got = {(r.op, r.o_orderkey) if r.op == "D" else
                   (r.op, r.o_orderkey, r.o_totalprice) for r in rows}
            ok = got == want and len(rows) == len(want)
        elif kind == "maintain":
            # bytes the maintain commits wrote, read before a later
            # vacuum drops their manifests
            v1 = self.table.current_version()
            self.maintains.append(sum(self.table.bytes_added(v)
                                      for v in range(res["v0"] + 1, v1 + 1)))
        else:  # a commit: its footprint, read while its manifest exists
            self._footprint(res)
        if not ok:
            print(f"# {kind} check failed at op {i}")
        return ok

    def verify(self, run: dict) -> tuple[int, int]:
        """The final snapshot must equal the replay, row for row."""
        got = {tuple(r) for r in self.table.read(self.spark).collect()}
        want = {(k, *v) for k, v in self.state.items()}
        if got != want:
            print(f"# final snapshot differs in {len(got ^ want)} rows")
        return len(run["ops"]) + 1, run["failed"] + (got != want)

    # ---- metrics ---------------------------------------------------

    def _footprint(self, c: dict) -> None:
        man = self.table.manifest(c["version"])
        files = man["files"]
        written = sum(_written_by(f["path"], c["version"]) for f in files)
        c.update(bytes_added=self.table.bytes_added(c["version"]),
                 files_written=written,
                 carried_ratio=1 - written / max(1, len(files)),
                 manifest_bytes=len(json.dumps(man)))

    def _amps(self) -> tuple[float, float]:
        """Bytes the table wrote (every measured commit and maintain)
        per landing-batch byte, and table bytes on disk per live byte."""
        written = sum(c["bytes_added"] for c in self.commits) + sum(self.maintains)
        write_amp = written / max(1, sum(c["bytes"] for c in self.commits))
        live = sum(f.get("bytes") or 0 for f in self.table.manifest()["files"])
        disk = sum(
            os.path.getsize(os.path.join(d, f))
            for d, _, fs in os.walk(self.table.path)
            if "_checkpoint" not in d for f in fs)
        return write_amp, disk / max(1, live)

    def report(self, run: dict) -> dict:
        ok = [o for o in run["ops"] if o["ok"] and not o["traced"]] or \
             [o for o in run["ops"] if o["ok"]]
        small = [o["ms"] for o in ok if o["kind"] == "commit"] or [0.0]
        commits = [o["ms"] for o in ok if o["kind"] in ("commit", "bulk")] or [0.0]
        reads = [o["ms"] for o in ok if o["kind"] in READS] or [0.0]
        ct, rt = tail(commits), tail(reads)
        write_amp, space_amp = self._amps()
        return {
            "commit_p50_ms": (round(median(small), 4), "ms (small batches)"),
            "commit_tail_ms": (round(ct["value"], 4),
                               f"ms (p{ct['q']:.4g} of {ct['n']} commits, bulk included)"),
            "read_p50_ms": (round(median(reads), 4), "ms"),
            "read_tail_ms": (round(rt["value"], 4),
                             f"ms (p{rt['q']:.4g} of {rt['n']} reads, {rt['beyond']} beyond)"),
            "write_amp": (round(write_amp, 4), "bytes written / landing-batch byte"),
            "space_amp": (round(space_amp, 4), "table bytes on disk / live bytes"),
            "table": (f"{ROWS} rows, {BUCKETS} buckets, batches of "
                      f"{SMALL_KEYS[0]}-{SMALL_KEYS[1] - 1} keys, bulk {BULK_KEYS} "
                      f"keys every fourth commit", ""),
        }

    def layer_metrics(self, tracer) -> dict:
        # the n-th query the listener saw started is the n-th commit
        # after set-up (commits run one at a time)
        runs = self.listener.wait(len(self.commits))
        extra, trig, add = {}, [], []
        for c, run_id in zip(self.commits, runs):
            if c["span"] is not None:
                extra[c["span"]] = run_id
                trig.append(sum(p.get("triggerExecution", 0) for p in runs[run_id]))
                add.append(sum(p.get("addBatch", 0) for p in runs[run_id]))
        tracer.resolve_jobs(extra)
        stats = self.commits  # each with its footprint from record()
        write_amp, space_amp = self._amps()
        return {
            "streaming.trigger_ms": median(trig),
            "streaming.add_batch_ms": median(add),
            "streaming.overhead_ms": median([a - b for a, b in zip(trig, add)]),
            "streaming.jobs_per_commit": span_median(tracer, "streaming.commit", "jobs"),
            "versioned.bytes_added_per_commit": median([s["bytes_added"] for s in stats]),
            "versioned.files_written_per_commit": median(
                [s["files_written"] for s in stats]),
            "versioned.files_carried_ratio": median([s["carried_ratio"] for s in stats]),
            "versioned.manifest_bytes_per_commit": median(
                [s["manifest_bytes"] for s in stats]),
            "versioned.file_count": self.table.file_count(),
            "versioned.stray_bytes": self.table.stray_bytes(),
            "versioned.maintain_ms": span_median(tracer, "versioned.maintain"),
            "versioned.maintain_bytes_rewritten": median(self.maintains),
            "versioned.snapshot_read_ms": span_median(tracer, "versioned.snapshot_read"),
            "versioned.time_travel_ms": span_median(tracer, "versioned.time_travel"),
            "versioned.read_changes_ms": span_median(tracer, "versioned.read_changes"),
            "versioned.write_amp": write_amp,
            "versioned.space_amp": space_amp,
        }


def _written_by(path: str, version: int) -> bool:
    """Files a commit wrote live under its own attempt directory,
    ``data/c{version}-{token}/``."""
    return path.startswith((f"data/c{version}/", f"data/c{version}-"))


def _to_arrow(rows: dict) -> pa.Table:
    cols = list(zip(*rows.values())) if rows else [[]] * 4
    return pa.table([list(rows), *cols], schema=SCHEMA)


class _Progress:
    """Streaming progress events per query run id, in start order."""

    def __init__(self):
        self.lock = threading.Lock()
        self.runs: dict[str, list[dict]] = {}
        self.done: set[str] = set()

    def wait(self, n: int, timeout: float = 10.0) -> dict[str, list[dict]]:
        deadline = time.monotonic() + timeout
        while time.monotonic() < deadline:
            with self.lock:
                if len(self.done) >= n:
                    break
            time.sleep(0.05)
        with self.lock:
            return dict(self.runs)


def _listen(spark) -> _Progress:
    from pyspark.sql.streaming import StreamingQueryListener

    prog = _Progress()

    class Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            with prog.lock:
                prog.runs[str(event.runId)] = []

        def onQueryProgress(self, event):
            p = event.progress
            with prog.lock:
                prog.runs.setdefault(str(p.runId), []).append(dict(p.durationMs))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            with prog.lock:
                prog.done.add(str(event.runId))

    spark.streams.addListener(Listener())
    return prog

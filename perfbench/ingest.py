"""ingest_small_files: the reference's ingest path.

A backlog of gzipped CloudTrail objects is drained one file per trigger
(``maxFilesPerTrigger=1``, ``Trigger.AvailableNow``) through
``cloudtrail.dispatch_unwrap`` and ``sinks.deliver_partitions`` into the
Kinesis stub. Each pass gets its own input, checkpoint and spool
directories and removes them once its delivery has been checked. An op is
one delivered record.
"""

from __future__ import annotations

import gzip
import json
import os
import re
import shutil
import tempfile
import time
from collections import Counter

from probes import median, warm_up

PASS_TIMEOUT_S = 120.0
WARM_MIN_PASSES, WARM_MAX_PASSES = 5, 8  # counting the cold pass
# event_id and event_type of each spooled record (the record JSON is
# escaped inside the spool line's "data" string)
_SPOOLED = re.compile(rb'event_id\\":\s*(\d+).*?event_type\\":\s*\\"(\w+)')

# Per pass: 6 files of 1.0-1.5k records, half of them offered to SNS. At
# that size the per-batch fixed cost (about 0.4 s a file) dominates.
FILES_PER_PASS = 6
RECORDS_PER_FILE = (1000, 1500)
SNS_SHARE = 0.5


def _tree_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(r, f)) for r, _d, fs in os.walk(path) for f in fs
    )


class CountingClient:
    """Wraps a Kinesis client and counts records offered per call."""

    def __init__(self, inner):
        self.inner = inner
        self.offered = 0

    def put_records(self, StreamName, Records):
        self.offered += len(Records)
        return self.inner.put_records(StreamName=StreamName, Records=Records)


class Ingest:
    def __init__(self, ctx):
        self.ctx = ctx
        self.batches: list[dict] = []  # per timed batch: progress + spans
        self.layer: dict[str, float] = {}
        self.ckpt_bytes: list[float] = []
        self.spool_bytes: list[float] = []

    # -- one pass ----------------------------------------------------
    def _pass(self, timed: bool) -> float:
        from pyspark.sql import functions as F

        from cloudtrail_streamer_spark.streaming.cloudtrail import dispatch_unwrap
        from cloudtrail_streamer_spark.streaming.sinks import deliver_partitions

        ctx, tr, spark = self.ctx, self.ctx.tracer, self.ctx.spark
        root = tempfile.mkdtemp(prefix="pass-", dir=ctx.tmp)
        inp, ckpt, spool = (os.path.join(root, d) for d in ("in", "ckpt", "spool"))
        os.makedirs(inp)
        for i, lf in enumerate(self.files):
            path = os.path.join(inp, lf.name)
            with open(path, "wb") as f:
                f.write(lf.data)
            os.utime(path, ns=(i * 10**9, i * 10**9))  # drain in generation order
        batch_files: dict[int, int] = {}

        def deliver(batch_df, batch_id):
            with tr.span("stream.foreach_batch"):
                with tr.span("cloudtrail.dispatch_unwrap"):
                    keyed = dispatch_unwrap(batch_df).select(
                        F.col("parsed.user_id").cast("string").alias("pk"),
                        F.col("record").alias("data"),
                    )
                if tr.enabled:
                    # files drain one per batch in modification-time order
                    batch_files[batch_id] = self.files[len(batch_files)].n_records
                    # analysis already ran inside dispatch_unwrap, when
                    # the DataFrame was built; these force the later phases
                    qe = keyed._jdf.queryExecution()
                    with tr.span("spark.optimize"):
                        qe.optimizedPlan()
                    with tr.span("spark.plan"):
                        qe.executedPlan()
                with tr.span("sinks.deliver"):
                    deliver_partitions(keyed, spool, "cloudtrail-stream", batch_id)

        expected = sum(lf.n_records for lf in self.files)
        ctx.tracer.op = len(tr.spans) if timed else None
        c0 = ctx.cpu_mark() if timed else None
        t0 = time.perf_counter()
        q = None
        try:
            with tr.span("op"):
                stream = (
                    spark.readStream.format("text").option("maxFilesPerTrigger", 1).load(inp)
                )
                q = (
                    stream.writeStream.foreachBatch(deliver)
                    .option("checkpointLocation", ckpt)
                    .trigger(availableNow=True)
                    .start()
                )
                if not q.awaitTermination(PASS_TIMEOUT_S):
                    raise TimeoutError(f"pass exceeded {PASS_TIMEOUT_S:.0f} s")
            wall = time.perf_counter() - t0
            cpu = ctx.cpu_mark() - c0 if timed else 0.0
            bad = self._verify(spool, expected)
            if timed:
                ctx.add_busy(wall, cpu, ops=expected - bad)
                self._record(q, batch_files, ckpt, spool, expected)
            ctx.count(expected, bad)
        except Exception as exc:  # a failed pass is counted, the loop goes on
            wall = time.perf_counter() - t0
            ctx.note_failure(f"pass: {type(exc).__name__}: {exc}")
            ctx.count(expected, expected)
            if timed:
                ctx.add_busy(wall, ctx.cpu_mark() - c0, ops=0)
            if q is not None and q.isActive:
                q.stop()
        finally:
            ctx.tracer.op = None
            shutil.rmtree(root, ignore_errors=True)
        return wall

    def _record(self, q, batch_files, ckpt: str, spool: str, expected: int) -> None:
        """Keep the per-batch progress of a timed pass."""
        progress = [p for p in q.recentProgress if p.numInputRows > 0]
        traced = self.ctx.tracer.enabled
        for p in progress:
            self.batches.append(
                {"ms": dict(p.durationMs), "records": batch_files.get(p.batchId),
                 "traced": traced}
            )
        if traced:
            self.ckpt_bytes.append(_tree_bytes(ckpt) / max(1, len(progress)))
            self.spool_bytes.append(_tree_bytes(spool) / max(1, expected))

    def _verify(self, spool: str, expected: int) -> int:
        """Records lost, duplicated or mis-typed in this pass's spool."""
        with self.ctx.checking():
            return self._spool_errors(spool, expected)

    def _spool_errors(self, spool: str, expected: int) -> int:
        want = Counter()
        for lf in self.files:
            want.update(lf.counts)
        got, ids, lines = Counter(), set(), 0
        for name in os.listdir(spool) if os.path.isdir(spool) else ():
            with open(os.path.join(spool, name), "rb") as f:
                data = f.read()
            lines += data.count(b"\n")
            for eid, etype in _SPOOLED.findall(data):
                got[etype.decode()] += 1
                ids.add(int(eid))
        bad = sum(abs(want[k] - got[k]) for k in set(want) | set(got))
        bad += (lines - len(ids)) + abs(expected - lines)
        if bad:
            self.ctx.note_failure(
                f"spool check: want {dict(want)}, got {dict(got)}, "
                f"{lines} lines, {len(ids)} distinct event_id"
            )
        return min(bad, expected)

    # -- phases ------------------------------------------------------
    def setup(self) -> None:
        import gen

        tr = self.ctx.tracer
        t0 = time.perf_counter()
        with tr.span("harness.gen"):
            self.files = gen.cloudtrail_files(
                self.ctx.seed, FILES_PER_PASS, *RECORDS_PER_FILE, SNS_SHARE, "ctlog"
            )
        self.layer["harness.gen_s"] = time.perf_counter() - t0
        passes = warm_up(lambda: self._pass(False), WARM_MIN_PASSES, WARM_MAX_PASSES)
        self.first_pass_s = passes[0]
        self.warm_passes = passes

    def step(self) -> float:
        """One timed pass; returns its op time."""
        return self._pass(True)

    def mark(self):
        return len(self.batches), len(self.ckpt_bytes), len(self.spool_bytes)

    def rollback(self, mark) -> None:
        """Forget the timed passes recorded since ``mark``."""
        del self.batches[mark[0]:], self.ckpt_bytes[mark[1]:], self.spool_bytes[mark[2]:]

    def latency_p50_ms(self) -> float:
        """Median per-file ``triggerExecution`` over the timed batches."""
        return median(b["ms"]["triggerExecution"] for b in self.batches)

    def per_layer(self) -> dict:
        tr = self.ctx.tracer
        traced = [b for b in self.batches if b["traced"]]
        out = dict(self.layer)
        for key in ("latestOffset", "getBatch", "queryPlanning", "addBatch",
                    "walCommit", "commitOffsets", "triggerExecution"):
            snake = re.sub(r"([A-Z])", r"_\1", key).lower()
            out[f"stream.{snake}_ms"] = median(b["ms"].get(key, 0) for b in traced)
        out["stream.checkpoint_bytes_per_batch"] = median(self.ckpt_bytes)
        out["spark.optimize_ms"] = median(tr.durations_ms("spark.optimize"))
        out["spark.plan_ms"] = median(tr.durations_ms("spark.plan"))
        out["cloudtrail.dispatch_unwrap_ms"] = median(tr.durations_ms("cloudtrail.dispatch_unwrap"))
        deliver = tr.durations_ms("sinks.deliver")
        out["sinks.deliver_ms"] = median(deliver)
        recs = [b["records"] for b in traced]
        out["sinks.deliver_us_per_record"] = median(
            d * 1e3 / r for d, r in zip(deliver, recs) if r
        )
        out["sinks.spool_bytes_per_record"] = median(self.spool_bytes)
        kernel = self._kernel_probe()
        out.update(kernel)
        # the deliver floor is what delivery costs beyond the per-record
        # work put_records_chunked does on its own
        per_rec_ms = [r * 1e3 / kernel["sinks.kernel_rec_per_s"] for r in recs]
        floor = median(d - p for d, p in zip(deliver, per_rec_ms))
        out["sinks.deliver_floor_ms"] = floor
        trig = median(b["ms"]["triggerExecution"] for b in traced)
        fixed = median(b["ms"]["triggerExecution"] - b["ms"].get("addBatch", 0) for b in traced)
        out["ingest.per_batch_share"] = (fixed + floor) / trig
        out["ingest.per_record_share"] = median(per_rec_ms) / trig
        return out

    def _kernel_probe(self) -> dict:
        """``put_records_chunked`` alone, in this process, over the
        records of the largest generated file."""
        from cloudtrail_streamer_spark.streaming.sinks import (
            KinesisStubClient,
            put_records_chunked,
        )

        lf = max(self.files, key=lambda f: f.n_records)
        body = json.loads(gzip.decompress(lf.data))
        if body.get("Type") == "Notification":
            body = json.loads(body["Message"])
        recs = [
            {"Data": json.dumps(r, separators=(",", ":")).encode(), "PartitionKey": str(r["user_id"])}
            for r in body["Records"]
        ]
        spool = tempfile.mkdtemp(prefix="kernel-", dir=self.ctx.tmp)
        client = CountingClient(KinesisStubClient(spool))
        t0 = time.perf_counter()
        with self.ctx.tracer.span("sinks.put_records_chunked"):
            delivered = put_records_chunked(client, "cloudtrail-stream", recs)
        dt = time.perf_counter() - t0
        shutil.rmtree(spool, ignore_errors=True)
        if delivered != len(recs):
            self.ctx.note_failure(f"kernel probe delivered {delivered} of {len(recs)}")
        return {
            "sinks.kernel_rec_per_s": delivered / dt,
            "sinks.retry_share": (client.offered - delivered) / max(1, client.offered),
        }

    def diagnostics(self) -> dict:
        return {
            "warm_passes_s": self.warm_passes,
            "files_per_pass": FILES_PER_PASS,
            "records_per_pass": sum(lf.n_records for lf in self.files),
            "sns_files": sum(lf.sns for lf in self.files),
        }

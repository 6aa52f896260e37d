"""analytics_mix: the analyst's query mix, one closed-loop client.

Each op is one registry query called through ``queries()[name]`` and
collected with ``toPandas()``. Every round runs all queries once in a
seed-shuffled order; the seed sets only that order.

The tables are a byte-identical copy of the repository's sf0.01 test
set, the one its correctness tests check against DuckDB. They live in
the benchmark's own directory because a run reads only inside its
checkout.
"""

from __future__ import annotations

import os
import random
import threading
import time

from metrics import QUERY_NAMES as QUERIES
from oracle import TABLES, DuckOracle, frame_hash
from probes import geomean, median, warm_up

SF_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")
OP_TIMEOUT_S = 60.0
WARM_MIN_ROUNDS, WARM_MAX_ROUNDS = 4, 7  # after the cold call of each query


class Analytics:
    def __init__(self, ctx):
        self.ctx = ctx
        self.sf_dir = SF_DIR
        self.rng = random.Random(ctx.seed)
        self.expected: dict[str, tuple[int, str]] = {}
        self.lat: dict[str, list[float]] = {q: [] for q in QUERIES}
        self.layer: dict[str, float] = {}

    # -- one op ------------------------------------------------------
    def _call(self, name: str):
        """Build and collect one query. Returns (wall_s, frame|None)."""
        ctx, tr = self.ctx, self.ctx.tracer
        spark = ctx.spark
        timer = threading.Timer(OP_TIMEOUT_S, spark.sparkContext.cancelAllJobs)
        timer.start()
        t0 = time.perf_counter()
        try:
            with tr.span("op"):
                with tr.span("registry.build"):
                    df = self.queries[name](spark, self.sf_dir)
                if tr.enabled:
                    # analysis already ran while the DataFrame was built
                    # (inside registry.build); these force the later phases
                    qe = df._jdf.queryExecution()
                    with tr.span("spark.optimize"):
                        qe.optimizedPlan()
                    with tr.span("spark.plan"):
                        qe.executedPlan()
                with tr.span("spark.exec_collect"):
                    pdf = df.toPandas()
            wall = time.perf_counter() - t0
        except Exception as exc:  # a failed op is counted, the loop goes on
            ctx.note_failure(f"{name}: {type(exc).__name__}: {exc}")
            return time.perf_counter() - t0, None
        finally:
            timer.cancel()
        if wall > OP_TIMEOUT_S:
            ctx.note_failure(f"{name}: exceeded {OP_TIMEOUT_S:.0f} s")
            return wall, None
        return wall, pdf

    def _check(self, name: str, pdf) -> bool:
        if pdf is None:
            return False
        with self.ctx.checking():
            got = frame_hash(pdf)
        if got != self.expected[name]:
            self.ctx.note_failure(f"{name}: result {got} differs from oracle {self.expected[name]}")
            return False
        return True

    def _round(self, timed: bool) -> float:
        names = list(QUERIES)
        self.rng.shuffle(names)
        total = 0.0
        for name in names:
            self.ctx.tracer.op = len(self.ctx.tracer.spans) if timed else None
            c0 = self.ctx.cpu_mark() if timed else None
            wall, pdf = self._call(name)
            cpu = self.ctx.cpu_mark() - c0 if timed else 0.0
            ok = self._check(name, pdf)
            self.ctx.count(1, 0 if ok else 1)
            total += wall
            if timed:
                self.ctx.add_busy(wall, cpu, ops=int(ok))
                if ok:
                    self.lat[name].append(wall * 1e3)
        self.ctx.tracer.op = None
        return total

    # -- phases ------------------------------------------------------
    def setup(self) -> None:
        import __spark_entry__ as entry
        from cloudtrail_streamer_spark import stats

        tr = self.ctx.tracer
        self.queries = entry.queries()
        with self.ctx.checking():
            duck = DuckOracle(self.sf_dir)
            oracles = entry.oracle_sql()
            self.expected = {n: frame_hash(duck.result(oracles[n])) for n in QUERIES}
            duck.close()
        if tr.enabled:
            for tag in ("cold", "warm"):
                t0 = time.perf_counter()
                for t in TABLES:
                    stats.row_count(self.sf_dir, t)
                    stats.avg_row_bytes(self.sf_dir, t)
                self.layer[f"stats.{tag}_ms"] = (time.perf_counter() - t0) * 1e3

        names = list(QUERIES)
        self.rng.shuffle(names)
        first = 0.0
        for name in names:
            wall, pdf = self._call(name)
            first += wall
            self.ctx.count(1, 0 if self._check(name, pdf) else 1)
        self.first_pass_s = first

        self.warm_rounds = warm_up(lambda: self._round(False), WARM_MIN_ROUNDS, WARM_MAX_ROUNDS)

    def step(self) -> float:
        """One timed round; returns its op time."""
        return self._round(True)

    def mark(self):
        return {name: len(v) for name, v in self.lat.items()}

    def rollback(self, mark) -> None:
        """Forget the timed rounds recorded since ``mark``."""
        for name, n in mark.items():
            del self.lat[name][n:]

    def latency_p50_ms(self) -> float:
        """Geometric mean of each query's median call-to-collected time."""
        return geomean(median(v) for v in self.lat.values() if v)

    def per_layer(self) -> dict:
        tr = self.ctx.tracer
        out = dict(self.layer)
        for key, span in (
            ("registry.build_ms", "registry.build"),
            ("spark.optimize_ms", "spark.optimize"),
            ("spark.plan_ms", "spark.plan"),
            ("spark.exec_collect_ms", "spark.exec_collect"),
        ):
            out[key] = median(tr.durations_ms(span))
        for name, v in self.lat.items():
            out[f"query.{name}.p50_ms"] = median(v)
        return out

    def diagnostics(self) -> dict:
        return {"warm_rounds_s": self.warm_rounds, "sf_dir": os.path.basename(SF_DIR)}

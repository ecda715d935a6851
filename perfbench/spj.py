"""spj_interactive: seeded reference-dialect queries through one
long-lived ``KajEngine``, results collected to the client.

Layers on the request path: ``dialect`` (parse, lower), Catalyst
planning and Spark execution. Each distinct query text is checked once
against DuckDB running its ANSI twin over the same parquet files.
"""

from __future__ import annotations

import time

import numpy as np

from harness import Workload, median, span_median
from tables import CYCLE, make_tables, query_stream, result_digest, write_tables


class SpjInteractive(Workload):
    latency_kind = "query"
    item = "queries"
    cycle = CYCLE
    min_cycles = 4  # 40 queries: the tail (ten beyond it) is p75 or higher

    def generate(self) -> None:
        self.data = self.ctx.work / "tables"
        self.data.mkdir()
        tables = make_tables(np.random.default_rng([self.ctx.seed, 1]))
        self.sizes = {name: t.num_rows for name, t in tables.items()}
        write_tables(tables, self.data)
        self.stream = query_stream(self.ctx.seed)
        self.results: dict[str, tuple[int, str]] = {}
        self.twins: dict[str, str] = {}
        self.issued: list[str] = []
        self.rows: list[int] = []

    def prepare(self) -> None:
        from kaj_query_engine_spark import KajEngine

        t = time.perf_counter()
        eng = KajEngine(self.spark)
        eng.load_fixtures(str(self.data))
        self.load_times_ms.append((time.perf_counter() - t) * 1e3)
        self.engine = eng

    def warmup(self) -> None:
        warm = query_stream(self.ctx.seed + 1_000_003)
        for _ in range(CYCLE):  # every plan shape once
            self.engine.sql(next(warm).text).collect()

    def before(self, i: int) -> None:
        self.query = next(self.stream)

    def op(self, i: int, tr):
        from kaj_query_engine_spark.dialect.lowering import lower
        from kaj_query_engine_spark.dialect.parser import parse

        text = self.query.text
        if tr is self.ctx.notrace:
            rows = self.engine.sql(text).collect()
        else:
            with tr.span("query", jobs=False):
                with tr.span("dialect.parse"):
                    ast = parse(text)
                with tr.span("dialect.lower", jobs=True):
                    df = lower(ast, self.engine.catalog, self.engine.strict_compat)
                with tr.span("engine.plan", jobs=True):
                    df._jdf.queryExecution().executedPlan()
                with tr.span("engine.exec", jobs=True) as sp:
                    rows = df.collect()
                sp.attrs["rows"] = len(rows)
        return "query", 1, rows

    def record(self, i: int, rows) -> bool:
        text = self.query.text
        digest = result_digest(rows)
        self.rows.append(digest[0])
        self.issued.append(text)
        self.twins[text] = self.query.twin
        if text in self.results:
            return self.results[text] == digest  # a repeat must agree
        self.results[text] = digest
        return True

    def verify(self, run: dict) -> tuple[int, int]:
        """Each distinct query once against DuckDB; a mismatch fails
        every execution of that text."""
        import duckdb

        con = duckdb.connect()
        try:
            for name in ("region", "nation", "customer", "supplier", "part",
                         "orders", "lineitem"):
                con.execute(
                    f"CREATE VIEW {name} AS SELECT * FROM "
                    f"read_parquet('{self.data / (name + '.parquet')}')"
                )
            bad = set()
            for text, got in self.results.items():
                want = result_digest(con.execute(self.twins[text]).fetchall())
                if want != got:
                    bad.add(text)
                    print(f"# MISMATCH spark={got} duckdb={want}: {text}")
        finally:
            con.close()
        wrong = sum(1 for t in self.issued if t in bad)
        self.distinct = len(self.results)
        return len(run["ops"]), run["failed"] + wrong

    def report(self, run: dict) -> dict:
        n = len(self.issued)
        return {
            "queries": (n, "count"),
            "distinct_queries": (len(self.results), "count"),
            "repeat_share_issued": (round(1 - len(self.results) / max(1, n), 4), "ratio"),
            "result_rows_p50": (median(self.rows), "rows"),
            "tables_rows": (", ".join(f"{k} {n}" for k, n in self.sizes.items()), ""),
        }

    def layer_metrics(self, tracer) -> dict:
        tracer.resolve_jobs()
        per_query: dict[int, dict] = {}
        for sp in tracer.spans:
            if sp.name in ("dialect.lower", "engine.plan", "engine.exec"):
                acc = per_query.setdefault(sp.op, {"jobs": 0, "stages": 0, "tasks": 0})
                for k in acc:
                    acc[k] += sp.attrs.get(k, 0)
        qs = list(per_query.values())
        return {
            "dialect.parse_ms": span_median(tracer, "dialect.parse"),
            "dialect.lower_ms": span_median(tracer, "dialect.lower"),
            "engine.plan_ms": span_median(tracer, "engine.plan"),
            "engine.exec_ms": span_median(tracer, "engine.exec"),
            "engine.jobs_per_query": median([q["jobs"] for q in qs]),
            "engine.stages_per_query": median([q["stages"] for q in qs]),
            "engine.tasks_per_query": median([q["tasks"] for q in qs]),
            "engine.result_rows_per_query": span_median(tracer, "engine.exec", "rows"),
        }

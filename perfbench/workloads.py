"""The workloads. Each runs whole rounds of the same operations;
an operation is one batch query (build plus `noop` write) or one
micro-batch trigger (one replay file in, all of the round's streaming
queries committed). Every workload checks its outputs against DuckDB,
outside the timed window."""

from __future__ import annotations

import json
import os
import shutil
import time
from decimal import Decimal

import duckdb
import pandas as pd

import inputs
import layers

# Operator-library queries whose work is mostly execution: TPC-H
# shapes, rollup/cube, as-of and range joins, a hop window, and
# Arrow-UDF queries that touch the Python workers lightly.
RELATIONAL = [
    "q_tpch_q12", "q_tpch_q13", "q_tpch_q18", "q_rollup", "q_cube", "q_asof_join",
    "q_range_join", "q_window_slide", "q_gate_rowwise_udf", "q_udaf_apply",
]

# Operators that fire Spark jobs while they are being built (one Spark
# action per iteration).
ITERATIVE = ["q_hits", "q_label_prop", "q_by_fdr"]

# The batch workload BENCHMARK.json names: both kinds in one round,
# sized so that a run's set-up plus three timed rounds fit its budget.
BATCH = [
    "q_tpch_q18", "q_rollup", "q_asof_join", "q_window_slide", "q_gate_rowwise_udf",
    "q_label_prop", "q_by_fdr",
]

DAY_MS = 86_400_000
TOP_N = 5  # every region: the ranked table is the whole window table


class NullTrace:
    """Untraced runs: no job groups, no listeners."""

    def group(self, name: str) -> None:
        pass


class JobGroups:
    """Traced runs: the calling thread's jobs go to job group
    `perfbench-build` or `perfbench-exec`."""

    def __init__(self, spark):
        self._sc = spark.sparkContext

    def group(self, name: str) -> None:
        self._sc.setJobGroup(f"perfbench-{name}", name)


def _compare(spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame) -> str | None:
    """None when both frames hold the same rows (columns compared by
    name, rows in canonical order, values exactly): the value rule of
    tests/oracle.compare, applied to the pandas result the cold pass
    kept; that function takes the Spark DataFrame and would run it
    again."""
    if sorted(spark_pdf.columns) != sorted(oracle_pdf.columns):
        return f"columns {sorted(spark_pdf.columns)} vs {sorted(oracle_pdf.columns)}"
    if len(spark_pdf) != len(oracle_pdf):
        return f"{len(spark_pdf)} rows vs {len(oracle_pdf)}"

    def canon(df):
        df = df[sorted(df.columns)].copy()
        for c in df.columns:
            if df[c].dtype == object:
                df[c] = df[c].astype(str)
        return df.sort_values(list(df.columns), kind="stable").reset_index(drop=True)

    a, b = canon(spark_pdf), canon(oracle_pdf)
    for c in a.columns:
        same = (a[c] == b[c]) | (a[c].isna() & b[c].isna())
        if not same.all():
            i = int((~same).values.argmax())
            return f"column {c}: {int((~same).sum())} diffs, first {a[c][i]!r} vs {b[c][i]!r}"
    return None


class BatchWorkload:
    def __init__(self, names: list[str], round_s: float):
        self.names = names
        self.round_s = round_s  # typical warm round, for sizing a run
        self.ops_per_round = len(names)
        self.results: dict[str, pd.DataFrame] = {}

    def start_trace(self) -> None:
        pass

    def stream_groups(self) -> list[str]:
        return []

    def stream_totals(self) -> dict[str, float]:
        return layers.progress_totals([])

    def prepare(self, cache: str, seed: int) -> None:
        self.dir = inputs.batch_tables(cache, seed)

    def warm(self, spark) -> None:
        """One cold, untimed pass whose results the checks compare, then
        one untimed round: the JVM compiles most of Spark's planning
        code during these, so that the timed rounds start past the
        steepest part of that warm-up."""
        import __spark_entry__

        self.queries = __spark_entry__.queries()
        self.warm_s = {}
        for n in self.names:
            t0 = time.perf_counter()
            self.results[n] = self.queries[n](spark, self.dir).toPandas()
            self.warm_s[n] = round(time.perf_counter() - t0, 3)
        self.round(spark, NullTrace(), lambda *a, **k: None)

    def round(self, spark, tr, on_op) -> None:
        for n in self.names:
            tr.group("build")
            t0 = time.perf_counter()
            df = self.queries[n](spark, self.dir)
            t1 = time.perf_counter()
            tr.group("exec")
            df.write.mode("overwrite").format("noop").save()
            t2 = time.perf_counter()
            on_op(t2 - t0, build_s=t1 - t0, exec_s=t2 - t1)

    def check(self) -> list[str]:
        import __spark_entry__

        sql = __spark_entry__.oracle_sql()
        con = duckdb.connect()
        for t in ("region", "nation", "customer", "supplier", "part", "orders",
                  "lineitem", "events", "documents", "embeddings"):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{self.dir}/{t}.parquet'")
        problems = []
        for n in self.names:
            diff = _compare(self.results[n], con.sql(sql[n]).df())
            if diff:
                problems.append(f"{n}: {diff}")
        return problems


class StreamWorkload:
    """A round starts fresh streaming queries over an empty source
    directory, then delivers the replay files one at a time; each file
    is one operation, timed from its arrival until every query has
    committed the micro-batch that holds it."""

    name = ""
    round_s = 0.0  # typical warm round, for sizing a run

    def prepare(self, cache: str, seed: int) -> None:
        self.dim_dir, self.files = inputs.stream_inputs(cache, seed, self.name)
        self.ops_per_round = len(self.files)
        self.work = os.path.join(os.getcwd(), ".bench_work", self.name)
        shutil.rmtree(self.work, ignore_errors=True)
        self.rounds = 0
        self.traced: list[tuple[str, dict]] | None = None

    def start_trace(self) -> None:
        """From now on keep each query's run id (its job group) and
        micro-batch progress."""
        self.traced = []

    def stream_groups(self) -> list[str]:
        return [run_id for run_id, _ in self.traced or []]

    def stream_totals(self) -> dict[str, float]:
        t = layers.progress_totals([])
        for _, totals in self.traced or []:
            for k in t:
                t[k] += totals[k]
        return t

    def warm(self, spark) -> None:
        """One untimed round: the pipeline's first-use costs and most of
        the JVM's compilation of the trigger path."""
        self.round(spark, NullTrace(), lambda *a, **k: None)

    def round(self, spark, tr, on_op) -> None:
        from table_computing_spark.streaming import StreamProcessing

        self.rounds += 1
        base = os.path.join(self.work, f"round{self.rounds}")
        src = os.path.join(base, "src")
        os.makedirs(src)
        tr.group("build")
        t0 = time.perf_counter()
        schema = spark.read.parquet(self.files[0]).schema
        sdf = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(src)
        sp = StreamProcessing(checkpoint_root=os.path.join(base, "ckpt"))
        queries = self.start(spark, sdf, sp)
        build_s = time.perf_counter() - t0
        try:
            for i, f in enumerate(self.files):
                t1 = time.perf_counter()
                os.link(f, os.path.join(src, os.path.basename(f)))
                for q, seen in queries:
                    deadline = t1 + 120
                    while len(seen) <= i:
                        if time.perf_counter() > deadline:
                            raise TimeoutError(f"batch {i} not committed")
                        q.processAllAvailable()
                dt = time.perf_counter() - t1
                on_op(dt, build_s=build_s if i == 0 else 0.0, exec_s=dt)
        finally:
            sp.stop_all()
        if self.traced is not None:
            for q, _ in queries:
                progress = [json.loads(p.json) for p in q.recentProgress]
                self.traced.append((str(q.runId), layers.progress_totals(progress)))
        shutil.rmtree(base, ignore_errors=True)


class StreamWindowed(StreamWorkload):
    """Dimension join -> watermarked hop window -> per-trigger top-N."""

    name = "stream_windowed"
    round_s = 6.5

    def start(self, spark, sdf, sp) -> list:
        """Start this workload's queries; [(query, batch ids its sink has seen)]."""
        from pyspark.sql import functions as F

        from table_computing_spark.sources.parquet import load_df
        from table_computing_spark.streaming import DimensionTable, stream_slide

        def load_dim():
            c = load_df(spark, self.dim_dir, "customer")
            n = load_df(spark, self.dim_dir, "nation")
            r = load_df(spark, self.dim_dir, "region")
            return (c.join(n, c.c_nationkey == n.n_nationkey)
                    .join(r, n.n_regionkey == r.r_regionkey)
                    .select("c_custkey", "r_name"))

        dim = DimensionTable(load_dim, refresh_interval_s=3600.0)
        enriched = dim.join(sdf, on=[("user_id", "c_custkey")], how="left")
        win = stream_slide(
            enriched, "t_ms", "2 days", "1 day", ["r_name"],
            n=F.count(F.lit(1)),
            volume=F.sum(F.col("value").cast("decimal(18,3)")),
        )
        seen: list[int] = []

        def sink(ranked, batch_id):
            self.table = ranked.collect()
            seen.append(batch_id)

        q = sp.top_n(win, ["window_start"], [F.col("n").desc(), F.col("r_name").asc()],
                     TOP_N, sink)
        self.dim = dim
        return [(q, seen)]

    def check(self) -> list[str]:
        con = duckdb.connect()
        for t in ("customer", "nation", "region"):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{self.dim_dir}/{t}.parquet'")
        con.sql(f"CREATE VIEW ev AS SELECT * FROM read_parquet({self.files!r})")
        want = con.sql(f"""
            WITH d AS (
              SELECT c_custkey, r_name FROM customer
              JOIN nation ON c_nationkey = n_nationkey
              JOIN region ON n_regionkey = r_regionkey),
            j AS (SELECT ev.*, d.r_name FROM ev LEFT JOIN d ON ev.user_id = d.c_custkey),
            hops AS (
              SELECT *, (t_ms // {DAY_MS}) * {DAY_MS} AS ws FROM j
              UNION ALL
              SELECT *, (t_ms // {DAY_MS}) * {DAY_MS} - {DAY_MS} AS ws FROM j),
            agg AS (
              SELECT ws AS window_start, ws + {2 * DAY_MS} AS window_end, r_name,
                     count(*) AS n, sum(CAST(value AS DECIMAL(18,3))) AS volume
              FROM hops GROUP BY ws, r_name)
            SELECT *, row_number() OVER (PARTITION BY window_start
                                         ORDER BY n DESC, r_name ASC) AS rank
            FROM agg QUALIFY rank <= {TOP_N}""").fetchall()
        cols = ["window_start", "window_end", "r_name", "n", "volume", "rank"]
        got = sorted(tuple(r[c] for c in cols) for r in self.table)
        problems = []
        if got != sorted(want):
            problems.append(f"windows differ from DuckDB: {len(got)} rows vs {len(want)}")
        n_events = con.sql("SELECT count(*) FROM ev").fetchone()[0]
        counted = sum(r["n"] for r in self.table)
        if counted != 2 * n_events:  # size / hop = 2 windows per event
            problems.append(f"{counted} window memberships for {n_events} events")
        self.dim.unpersist()
        return problems


class StreamStateful(StreamWorkload):
    """Python-state operators: trailing ROWS window and running balance."""

    name = "stream_stateful"
    round_s = 19.0

    def start(self, spark, sdf, sp) -> list:
        from pyspark.sql import types as T

        from table_computing_spark.streaming.stateful import (
            VectorizedRowAgg,
            stream_over_by_size,
            stream_running_balance,
        )

        def trailing(history: pd.DataFrame, n_old: int) -> pd.DataFrame:
            roll = history["value"].mul(1000).round().rolling(5, min_periods=1)
            return pd.DataFrame({
                "tsum_milli": roll.sum().iloc[n_old:].astype("int64").values,
                "tn": roll.count().iloc[n_old:].astype("int64").values,
            })

        over = stream_over_by_size(
            sdf.select("event_id", "user_id", "value"), ["user_id"], "event_id", 5,
            VectorizedRowAgg(trailing),
            [T.StructField("tsum_milli", T.LongType()), T.StructField("tn", T.LongType())],
        )
        balance = stream_running_balance(
            sdf.select("user_id", "event_id", "delta"), ["user_id"], ["event_id"], "delta",
            scale=3,
        )
        self.over_rows, self.balance_rows = [], []
        seen_over: list[int] = []
        seen_balance: list[int] = []

        def collect(rows, seen):
            def sink(batch_df, batch_id):
                rows.extend(batch_df.collect())
                seen.append(batch_id)
            return sink

        return [
            (sp.compute(over, collect(self.over_rows, seen_over), output_mode="append"),
             seen_over),
            (sp.compute(balance, collect(self.balance_rows, seen_balance), output_mode="append"),
             seen_balance),
        ]

    def check(self) -> list[str]:
        con = duckdb.connect()
        con.sql(f"CREATE VIEW ev AS SELECT * FROM read_parquet({self.files!r})")
        problems = []
        want = con.sql("""
            SELECT event_id, user_id,
                   CAST(sum(CAST(round(value * 1000) AS BIGINT)) OVER w AS BIGINT),
                   count(*) OVER w
            FROM ev
            WINDOW w AS (PARTITION BY user_id ORDER BY event_id
                         ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)""").fetchall()
        got = [(r.event_id, r.user_id, r.tsum_milli, r.tn) for r in self.over_rows]
        if sorted(got) != sorted(want):
            problems.append("stream_over_by_size differs from ROWS 4 PRECEDING"
                            f" ({len(got)} vs {len(want)} rows)")
        want = con.sql("""
            WITH RECURSIVE d AS (
              SELECT user_id,
                     row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn,
                     CAST(round(delta * 1000) AS BIGINT) AS dc
              FROM ev),
            sizes AS (SELECT user_id, count(*) AS n_events FROM d GROUP BY user_id),
            step AS (
              SELECT user_id, CAST(0 AS BIGINT) AS rn, CAST(0 AS BIGINT) AS bal,
                     CAST(0 AS BIGINT) AS n
              FROM sizes
              UNION ALL
              SELECT s.user_id, s.rn + 1, greatest(s.bal + d.dc, 0),
                     s.n + CASE WHEN s.bal + d.dc < 0 THEN 1 ELSE 0 END
              FROM step s JOIN d ON d.user_id = s.user_id AND d.rn = s.rn + 1)
            SELECT st.user_id, sizes.n_events, st.bal, st.n
            FROM step st JOIN sizes ON sizes.user_id = st.user_id AND sizes.n_events = st.rn
        """).fetchall()
        final: dict[int, tuple] = {}
        for r in self.balance_rows:
            if r.user_id not in final or r.n_events > final[r.user_id][1]:
                final[r.user_id] = (r.user_id, r.n_events,
                                    int(Decimal(str(r.final_balance)) * 1000), r.n_stockouts)
        if sorted(final.values()) != sorted(want):
            problems.append("stream_running_balance differs from its recursive-CTE fold")
        return problems


WORKLOADS = {
    "batch": lambda: BatchWorkload(BATCH, 6.5),
    "stream_windowed": StreamWindowed,
    # by hand only: one run of each does not fit the benchmark's budget
    "batch_relational": lambda: BatchWorkload(RELATIONAL, 5.5),
    "batch_iterative": lambda: BatchWorkload(ITERATIVE, 7.5),
    "stream_stateful": StreamStateful,
}

"""The benchmark's workloads: closed loops of ops from one client.

Every workload has the same shape:

- ``generate()`` lands its seeded inputs (reported apart from set-up);
- ``warmup(spark, tracer)`` runs untimed, after the session starts;
- ``schedule(rng, passes)`` is the fixed op list of a run;
- ``run_op(spark, op, tracer)`` is one timed op; it raises on failure.
  Calling it again measures the op again: a query runs as it is, a
  market op lands the next day;
- ``check(spark)`` runs after the timed window and returns
  ``{op: error or None}`` for every distinct op.
"""

from __future__ import annotations

import math
import os
import random
import shutil
import time

from . import datagen


def dir_bytes(root: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(root):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total


# Relative gap allowed between two float cells whose six-decimal forms
# differ. Six decimals of a 3.8e9 sum are 16 significant digits, more than
# a float64 holds (its ulp there is 4.8e-7), so two engines that add the
# same values in a different order can differ in the sixth decimal: for
# q1_pricing_summary's largest sum Spark and DuckDB are 2.6e-16 apart, and
# both are 1.2e-14 off the exact sum of the column. The typical error of a
# float64 sum of n values is about sqrt(n) * 2**-53 of their magnitude,
# 8.6e-14 for the 600,000 lineitem rows of sf0.1; the tolerance is ten
# times that.
FLOAT_REL_TOL = 1e-12


def _same_cell(check_oracle, a, b) -> bool:
    if check_oracle._canon(a) == check_oracle._canon(b):
        return True
    return isinstance(a, float) and isinstance(b, float) and math.isclose(a, b, rel_tol=FLOAT_REL_TOL)


def _rows(check_oracle, pdf) -> tuple[list[str], list[tuple]]:
    """Columns sorted by name and rows sorted by their canonical form (as
    the oracle gate orders them), with the raw cells kept."""
    cols = sorted(pdf.columns)
    rows = list(pdf[cols].itertuples(index=False, name=None))
    rows.sort(key=lambda r: tuple(check_oracle._canon(v) for v in r))
    return cols, rows


def _compare(check_oracle, spark_pdf, oracle_pdf) -> str | None:
    """None when two pandas frames hold the same rows, as the oracle
    gate canonicalises them (sorted columns, order-insensitive rows,
    floats at six decimals), except that float cells within
    FLOAT_REL_TOL of each other are equal; else what differs."""
    scols, srows = _rows(check_oracle, spark_pdf)
    ocols, orows = _rows(check_oracle, oracle_pdf)
    if scols != ocols:
        return f"schema {scols} != {ocols}"
    if len(srows) != len(orows):
        return f"row count {len(srows)} != {len(orows)}"
    diff = [
        (tuple(map(check_oracle._canon, a)), tuple(map(check_oracle._canon, b)))
        for a, b in zip(srows, orows)
        if not all(_same_cell(check_oracle, x, y) for x, y in zip(a, b))
    ]
    if diff:
        return f"values differ, first: {diff[:2]}"
    return None


class QueryWorkload:
    """Registered queries over the sf0.1 tables, each op one query: the
    callable builds the DataFrame (layer ``plans``), a noop-sink write
    executes it (layer ``operators``). The warm-up collects every query
    once; those results are what ``check`` compares with the query's
    DuckDB oracle."""

    def __init__(self, ops: list[str], repo: str, data_dir: str):
        self.ops = ops
        self.repo = repo
        self.data_dir = data_dir
        self.results: dict = {}
        self.errors: dict[str, str] = {}

    def generate(self) -> float:
        self.sf_dir, built_s = datagen.ensure_sf01(self.repo, self.data_dir)
        return built_s

    def input_bytes(self) -> int:
        return dir_bytes(self.sf_dir)

    def layers(self) -> dict[str, float]:
        return {"sources.raw_files": float(sum(len(f) for _d, _s, f in os.walk(self.sf_dir)))}

    def _queries(self):
        from m2_b3_market_data_pipeline_spark.plans import all_queries

        return all_queries.QUERIES

    def warmup(self, spark, tracer) -> None:
        """Collect every query once (the result ``check`` compares), then
        run two untimed passes of the timed op. The first noop write of a
        plan after its collect is still up to 1.7 times slower than the
        next, and with one such pass the first timed pass still read
        5-20% slower than the later ones."""
        from m2_b3_market_data_pipeline_spark.operators.dedup import release_cached

        queries = self._queries()
        for op in self.ops:
            try:
                with tracer.span("plans.build", "plans", op):
                    df = queries[op](spark, self.sf_dir)
                with tracer.span("operators.collect", "operators", op):
                    self.results[op] = df.toPandas()
                release_cached(df)
            except Exception as ex:  # noqa: BLE001 - reported as a failed op
                self.errors[op] = f"{type(ex).__name__}: {ex}"
        for _ in range(2):
            for op in self.ops:
                if op not in self.errors:
                    self.run_op(spark, op, tracer)

    def schedule(self, rng: random.Random, passes: int) -> list[str]:
        out = []
        for _ in range(passes):
            order = list(self.ops)
            rng.shuffle(order)
            out += order
        return out

    def run_op(self, spark, op: str, tracer) -> None:
        from m2_b3_market_data_pipeline_spark.operators.dedup import release_cached

        with tracer.span("plans.build", "plans", op):
            df = self._queries()[op](spark, self.sf_dir)
        with tracer.span("operators.exec", "operators", op):
            df.write.format("noop").mode("overwrite").save()
        release_cached(df)

    def check(self, spark) -> dict[str, str | None]:
        import duckdb

        import __spark_entry__

        check_oracle = datagen.load_tool(self.repo, "check_oracle")
        oracles = __spark_entry__.oracle_sql()
        con = duckdb.connect()
        for t in datagen.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.sf_dir}/{t}.parquet'")
        out = {}
        for op in self.ops:
            if op in self.errors:
                out[op] = self.errors[op]
            elif op not in oracles:
                out[op] = "no oracle registered"
            else:
                out[op] = _compare(check_oracle, self.results[op], con.execute(oracles[op]).df())
        con.close()
        return out


class MarketWorkload:
    """The reference lifecycle. Each op lands one trading day of bars for
    every ticker, refreshes ``refined/`` with ``run_etl_stream``
    (availableNow, recomputing from all raw data), folds the day into the
    per-ticker aggregate state with ``run_incremental_agg_stream``,
    re-catalogs ``refined/`` with ``register_parquet_table`` (MSCK REPAIR)
    and runs one Athena-shaped read. Ops are single-flight."""

    READ = (
        "SELECT date_format(date, 'yyyy-MM-dd') AS day, close_price, mm_7d, avg_close_price "
        "FROM default.refined WHERE ativo = '{ticker}' AND data = '{day}' "
        "ORDER BY date DESC LIMIT 30"
    )

    def __init__(self, repo: str, seed: int, run_dir: str, tickers: int, history_days: int, warmup_ops: int):
        self.repo = repo
        self.seed = seed
        self.root = run_dir
        self.tickers = tickers
        self.history_days = history_days
        self.warmup_ops = warmup_ops
        self.raw = os.path.join(run_dir, "raw")
        self.refined = os.path.join(run_dir, "refined")
        self.state = os.path.join(run_dir, "agg_state")
        self.ckpt_etl = os.path.join(run_dir, "ckpt_etl")
        self.ckpt_agg = os.path.join(run_dir, "ckpt_agg")
        self.raw_bytes = 0
        self.raw_files = 0
        self.read_errors: list[str] = []
        self.triggered = 0
        self.applied = 0

    def generate(self) -> float:
        t0 = time.perf_counter()
        shutil.rmtree(self.root, ignore_errors=True)
        self.feed = datagen.BarFeed(self.seed, self.tickers)
        self.pick = random.Random(self.seed)
        for _ in range(self.history_days):
            self._land()
        return time.perf_counter() - t0

    def input_bytes(self) -> int:
        return self.raw_bytes

    def _land(self):
        day, written = self.feed.land(self.raw)
        self.raw_bytes += written
        self.raw_files += self.tickers
        return day

    def layers(self) -> dict[str, float]:
        """Totals at the end of the timed window."""
        state = dir_bytes(self.state)
        return {
            "streaming.applied_ratio": self.applied / self.triggered,
            "streaming.state_bytes": float(state),
            "sources.raw_files": float(self.raw_files),
            "sources.stored_bytes_per_input_byte": (dir_bytes(self.refined) + state) / self.raw_bytes,
        }

    def warmup(self, spark, tracer) -> None:
        for i in range(self.warmup_ops):
            self.run_op(spark, f"warmup{i}", tracer)

    def schedule(self, rng: random.Random, passes: int) -> list[str]:
        return ["land_refresh_read"] * passes

    def _stream(self, start) -> None:
        """Run one availableNow stream to its end; count its batches."""
        query = start()
        query.awaitTermination()
        if query.exception() is not None:
            raise RuntimeError(str(query.exception()))
        # The ETL's foreachBatch never reads its batch frame, so its
        # progress reports 0 input rows: count batches, not rows.
        self.triggered += len(query.recentProgress)

    def run_op(self, spark, op: str, tracer) -> None:
        from m2_b3_market_data_pipeline_spark.sources.catalog import register_parquet_table
        from m2_b3_market_data_pipeline_spark.streaming import agg_sink
        from m2_b3_market_data_pipeline_spark.streaming.file_pipeline import (
            RAW_OHLCV_SCHEMA,
            run_etl_stream,
        )

        with tracer.span("bench.land", "bench", op):
            day = self._land().isoformat()

        def committed(_batch_id: int) -> None:
            self.applied += 1

        with tracer.span("streaming.run_etl_stream", "streaming", op):
            self._stream(
                lambda: run_etl_stream(
                    spark,
                    raw_path=self.raw,
                    refined_path=self.refined,
                    checkpoint_path=self.ckpt_etl,
                    run_date=day,
                    on_batch_committed=committed,
                )
            )
        applied_before = agg_sink._read_marker(self.state)[0]
        with tracer.span("streaming.run_incremental_agg_stream", "streaming", op):
            self._stream(
                lambda: agg_sink.run_incremental_agg_stream(
                    spark,
                    updates_path=self.raw,
                    state_path=self.state,
                    checkpoint_path=self.ckpt_agg,
                    schema=RAW_OHLCV_SCHEMA,
                    keys=["ativo"],
                    value_col="Close",
                )
            )
        if agg_sink._read_marker(self.state)[0] > applied_before:
            self.applied += 1
        with tracer.span("sources.register_parquet_table", "sources", op):
            register_parquet_table(spark, "refined", self.refined)
        ticker = self.pick.choice(self.feed.tickers)
        with tracer.span("operators.read", "operators", op):
            rows = spark.sql(self.READ.format(ticker=ticker, day=day)).collect()
        expected = min(30, len(self.feed.days))
        if len(rows) != expected or rows[0]["day"] != day:
            self.read_errors.append(f"{day} {ticker}: {len(rows)} rows, expected {expected}")
            raise AssertionError(self.read_errors[-1])

    def check(self, spark) -> dict[str, str | None]:
        """The last ``refined/`` partition against a batch recompute over
        the whole raw prefix, and the aggregate state against a one-shot
        groupBy."""
        from pyspark.sql import functions as F

        from m2_b3_market_data_pipeline_spark.plans.pipeline import refined
        from m2_b3_market_data_pipeline_spark.streaming.agg_sink import read_aggregates
        from m2_b3_market_data_pipeline_spark.streaming.file_pipeline import RAW_OHLCV_SCHEMA

        check_oracle = datagen.load_tool(self.repo, "check_oracle")
        raw = spark.read.schema(RAW_OHLCV_SCHEMA).option("recursiveFileLookup", "true").parquet(self.raw)
        last = self.feed.days[-1].isoformat()
        stored = spark.read.parquet(self.refined)
        partitions = sorted(str(r[0]) for r in stored.select("data").distinct().collect())
        landed = [d.isoformat() for d in self.feed.days[self.history_days :]]
        problems = []
        if partitions != landed:
            problems.append(f"refined holds data partitions {partitions[:3]}..., expected {landed[:3]}...")
        got = stored.filter(F.col("data") == last).withColumn("data", F.col("data").cast("string"))
        diff = _compare(check_oracle, got.toPandas(), refined(raw, run_date=last).toPandas())
        if diff:
            problems.append(f"refined: {diff}")
        one_shot = raw.groupBy("ativo").agg(
            F.count("*").alias("n_rows"),
            F.sum("Close").alias("sum_value"),
            F.min("Close").alias("min_value"),
            F.max("Close").alias("max_value"),
            (F.sum("Close") / F.count("*")).alias("avg_value"),
        )
        diff = _compare(check_oracle, read_aggregates(spark, self.state).toPandas(), one_shot.toPandas())
        if diff:
            problems.append(f"agg state: {diff}")
        return {"land_refresh_read": "; ".join(problems + self.read_errors) or None}

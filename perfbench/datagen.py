"""Deterministic inputs for the benchmark.

- The relational/corpus tables at sf0.1, synthesized by
  ``tools/make_seed_data.py`` from the fixed ``DATA_SEED`` at the row
  counts and physical schema of the sf0.1 fixture in TESTDATA.md. Both
  are pinned below: a run reads nothing outside its checkout, so the
  fixture directory itself is not used. The tables are built once into
  the benchmark's data directory and reused after their checksum matches
  the pinned one (numpy's PCG64 draws and pyarrow's writes are
  byte-deterministic).
- The daily OHLCV bars of ``market_etl_stream``, drawn from the run's
  ``--seed``: one Parquet file per ticker per day under
  ``raw/ano=YYYY/mes=MM/dia=DD/``, the layout the reference scraper lands.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import importlib.util
import os
import shutil
import subprocess
import sys
import time
from contextlib import redirect_stdout

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 7

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

# Row count and physical schema of each sf0.1 fixture table (TESTDATA.md).
SF01 = {
    "region": (5, "r_regionkey:i32 r_name:str"),
    "nation": (25, "n_nationkey:i32 n_name:str n_regionkey:i32"),
    "customer": (15000, "c_custkey:i64 c_name:str c_nationkey:i32 c_acctbal:f64 c_mktsegment:str"),
    "supplier": (1000, "s_suppkey:i64 s_name:str s_nationkey:i32 s_acctbal:f64"),
    "part": (20000, "p_partkey:i64 p_name:str p_brand:str p_type:str p_size:i32 p_retailprice:f64"),
    "orders": (
        150000,
        "o_orderkey:i64 o_custkey:i64 o_orderstatus:str o_totalprice:f64 o_orderdate:ts o_orderpriority:str",
    ),
    "lineitem": (
        600000,
        "l_orderkey:i64 l_partkey:i64 l_suppkey:i64 l_linenumber:i32 l_quantity:f64 l_extendedprice:f64 "
        "l_discount:f64 l_tax:f64 l_returnflag:str l_linestatus:str l_shipdate:ts",
    ),
    "events": (100000, "event_id:i64 ts:ts user_id:i64 event_type:str value:f64 props:str"),
    "documents": (5000, "doc_id:i64 text:str lang:str source:str n_chars:i64"),
    "embeddings": (2000, "vec_id:i64 embedding:f32[] label:i32"),
}
TYPES = {
    "i32": pa.int32(),
    "i64": pa.int64(),
    "f64": pa.float64(),
    "str": pa.string(),
    "ts": pa.timestamp("us"),
    "f32[]": pa.list_(pa.float32()),
}

# sha256 of sf0.1 as built from DATA_SEED (see tree_digest).
SF01_SHA256 = "2174665f3de0257258982b49b24a9e6bf81a473d892bd0100523f84514276204"


def load_tool(repo: str, name: str):
    """Import ``tools/<name>.py`` (``tools`` is not a package)."""
    spec = importlib.util.spec_from_file_location(
        f"perfbench_{name}", os.path.join(repo, "tools", f"{name}.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def tree_digest(root: str) -> str:
    """sha256 over the sorted (relative path, content) pairs of every data
    file under ``root``; bookkeeping files starting with ``_`` or ``.``
    are skipped."""
    h = hashlib.sha256()
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames.sort()
        for fn in sorted(filenames):
            if fn.startswith(("_", ".")):
                continue
            path = os.path.join(dirpath, fn)
            h.update(os.path.relpath(path, root).encode())
            with open(path, "rb") as fh:
                for block in iter(lambda: fh.read(1 << 20), b""):
                    h.update(block)
    return h.hexdigest()


def build_sf01(repo: str, dst: str) -> None:
    """``tools/make_seed_data.py`` reads only the row count and schema of
    each table in its source directory, so the source here is a stand-in:
    every table holds its fixture row count of nulls."""
    src = dst + ".src"
    shutil.rmtree(src, ignore_errors=True)
    os.makedirs(src)
    for t, (rows, spec) in SF01.items():
        fields = [name.split(":") for name in spec.split()]
        table = pa.table({name: pa.nulls(rows, TYPES[kind]) for name, kind in fields})
        pq.write_table(table, os.path.join(src, f"{t}.parquet"))
    with redirect_stdout(sys.stderr):
        load_tool(repo, "make_seed_data").build(src, dst, DATA_SEED)
    shutil.rmtree(src)


def ensure_sf01(repo: str, data_dir: str) -> tuple[str, float]:
    """The sf0.1 directory, built unless a copy with the pinned checksum
    exists; returns it and the seconds spent building (0.0 when reused)."""
    path = os.path.join(data_dir, "sf0.1")
    if os.path.isdir(path) and tree_digest(path) == SF01_SHA256:
        return path, 0.0
    t0 = time.perf_counter()
    tmp = path + ".tmp"
    for p in (path, tmp):
        shutil.rmtree(p, ignore_errors=True)
    # A child process, so the generator's memory never counts in the run's.
    subprocess.run([sys.executable, "-m", "perfbench.datagen", tmp], cwd=repo, check=True, stdout=sys.stderr)
    digest = tree_digest(tmp)
    if digest != SF01_SHA256:
        raise RuntimeError(f"sf0.1 built with checksum {digest}, expected {SF01_SHA256}")
    os.rename(tmp, path)
    return path, time.perf_counter() - t0


# -- market bars -------------------------------------------------------------

BAR_SCHEMA = pa.schema(
    [
        ("Date", pa.timestamp("us", tz="UTC")),
        ("Open", pa.float64()),
        ("High", pa.float64()),
        ("Low", pa.float64()),
        ("Close", pa.float64()),
        ("Volume", pa.int64()),
        ("ativo", pa.string()),
    ]
)


class BarFeed:
    """Seeded daily OHLCV bars for ``tickers`` symbols, one trading day
    (Monday to Friday) at a time."""

    def __init__(self, seed: int, tickers: int, start: dt.date = dt.date(2024, 1, 2)):
        self.rng = np.random.default_rng(seed)
        self.tickers = [f"T{i:03d}{chr(65 + i % 26)}3" for i in range(tickers)]
        self.close = self.rng.uniform(5.0, 120.0, tickers)
        self.day = start
        self.days: list[dt.date] = []

    def _next_trading_day(self) -> dt.date:
        d = self.day
        while d.weekday() >= 5:
            d += dt.timedelta(days=1)
        self.day = d + dt.timedelta(days=1)
        return d

    def land(self, raw_dir: str) -> tuple[dt.date, int]:
        """Write the next day's bars; returns (day, bytes written)."""
        day = self._next_trading_day()
        n = len(self.tickers)
        ret = self.rng.normal(0.0, 0.02, n)
        open_ = np.round(self.close, 2)
        close = np.round(self.close * np.exp(ret), 2)
        spread = np.abs(self.rng.normal(0.0, 0.01, (2, n))) * open_
        high = np.round(np.maximum(open_, close) + spread[0], 2)
        low = np.round(np.minimum(open_, close) - spread[1], 2)
        volume = self.rng.integers(10_000, 5_000_000, n)
        self.close = close
        part = os.path.join(raw_dir, f"ano={day.year}", f"mes={day.month:02d}", f"dia={day.day:02d}")
        os.makedirs(part, exist_ok=True)
        stamp = dt.datetime(day.year, day.month, day.day, tzinfo=dt.timezone.utc)
        written = 0
        for i, ticker in enumerate(self.tickers):
            table = pa.table(
                {
                    "Date": [stamp],
                    "Open": [float(open_[i])],
                    "High": [float(high[i])],
                    "Low": [float(low[i])],
                    "Close": [float(close[i])],
                    "Volume": [int(volume[i])],
                    "ativo": [ticker],
                },
                schema=BAR_SCHEMA,
            )
            path = os.path.join(part, f"{ticker}.parquet")
            tmp = os.path.join(part, f".{ticker}.parquet.tmp")
            pq.write_table(table, tmp)
            os.rename(tmp, path)
            written += os.path.getsize(path)
        self.days.append(day)
        return day, written


if __name__ == "__main__":
    build_sf01(os.getcwd(), sys.argv[1])

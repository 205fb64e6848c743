"""The three benchmark workloads.

Each workload generates its inputs from the seed (``gen``), loads them
into the engine in set-up, then serves ops in rounds: a round holds the
same mix of ops in every run and for every seed, so whole rounds make
runs comparable. ``run`` is the timed part of an op; ``check`` verifies
its output afterwards, outside the timing.
"""

from __future__ import annotations

import contextlib
import math
import os
import re
from dataclasses import dataclass

import duckdb
import numpy as np
import pandas as pd

import gen
from spans import Tracer, operator_targets


@dataclass
class Context:
    spark: object
    work: str
    seed: int
    size: gen.Size
    tracer: Tracer | None = None

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else contextlib.nullcontext()

    def count(self, name: str, value: float = 1) -> None:
        if self.tracer:
            self.tracer.count(name, value)


def parquet_bytes(path: str) -> int:
    """Bytes of the parquet data files under ``path`` (no checksums or
    markers)."""
    total = 0
    for dirpath, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files if f.endswith(".parquet"))
    return total


def _duck_view(con, name: str, path: str) -> None:
    glob = os.path.join(path, "*.parquet") if os.path.isdir(path) else path
    con.execute(f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM read_parquet('{glob}')")


# --- output normalization --------------------------------------------------------


def norm_cell(v) -> str:
    """Engine-neutral text of one value (the oracle harness's rule:
    floats by repr, so doubles must match bit for bit)."""
    if v is None:
        return "<null>"
    if isinstance(v, float):
        return "nan" if math.isnan(v) else repr(v)
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def normalize(rows, cols) -> tuple[list[str], list[str]]:
    """Columns sorted by name; rows as an order-insensitive multiset."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(cols), sorted("\x1f".join(norm_cell(r[i]) for i in order) for r in rows)


def _frame_cells(s: pd.Series) -> list[str]:
    if pd.api.types.is_datetime64_any_dtype(s):
        return [("<null>" if pd.isna(v) else v.strftime("%Y-%m-%d %H:%M:%S")) for v in s]
    return [("<null>" if v is None or (isinstance(v, float) and math.isnan(v)) else str(v)) for v in s]


def frame_mismatch(got: pd.DataFrame, want: pd.DataFrame, order_by=()) -> str | None:
    """None when two result frames agree: same columns, the same rows as
    a multiset (non-float cells equal as text, float cells within rtol
    1e-9), and, for each ORDER BY column in ``order_by``, the same values
    in row order. Rows that tie on the ORDER BY columns may come in any
    order."""
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} != {list(want.columns)}"
    if len(got) != len(want):
        return f"{len(got)} rows != {len(want)}"
    floats = {c for c in got.columns
              if pd.api.types.is_float_dtype(got[c]) or pd.api.types.is_float_dtype(want[c])}

    def differs(c, a, b):
        if c in floats:
            return not np.allclose(a.astype(float), b.astype(float), rtol=1e-9, atol=0, equal_nan=True)
        return _frame_cells(a) != _frame_cells(b)

    for c in order_by:
        if differs(c, got[c], want[c]):
            return f"row order by {c} differs"
    if len(got):
        # text columns first, so float noise cannot reorder rows
        keys = [c for c in got.columns if c not in floats] + [c for c in got.columns if c in floats]
        got = got.sort_values(keys, na_position="last").reset_index(drop=True)
        want = want.sort_values(keys, na_position="last").reset_index(drop=True)
    for c in got.columns:
        if differs(c, got[c], want[c]):
            return f"column {c} differs" + (" beyond rtol 1e-9" if c in floats else "")
    return None


def ingest_mismatch(f: gen.IngestFile, df) -> str | None:
    """None when an ingested table matches the generator's truth for its
    CSV: sanitized column names in order, dropped all-NULL columns,
    int/bigint widths, timestamps, and the row count."""
    got = [tuple(t) for t in df.dtypes]
    if got != f.schema:
        return f"{f.path}: schema {got} != {f.schema}"
    if any(c in df.columns for c in f.dropped):
        return f"{f.path}: all-NULL column kept"
    n = df.count()
    if n != f.rows:
        return f"{f.path}: {n} rows != {f.rows}"
    return None


class WrongOutput(Exception):
    """An op returned a result that fails its check."""


# --- workloads -----------------------------------------------------------------------


class Workload:
    name = ""

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.stored_bytes = 0
        self.input_bytes = 0
        self.duck = None
        #: set-up operations checked, and the failures among them
        self.setup_checks = 0
        self.setup_errors: list[str] = []

    def _connect_duck(self, views: dict[str, str]) -> None:
        """A fresh DuckDB connection with one view per (name, parquet
        path), replacing the previous one."""
        if self.duck is not None:
            self.duck.close()
        self.duck = duckdb.connect()
        for name, path in views.items():
            _duck_view(self.duck, name, path)

    def generate(self) -> None:
        """Write this run's seeded inputs under ``ctx.work``."""
        raise NotImplementedError

    def load(self, rep: int) -> None:
        """Load the inputs into the engine (one repetition of the
        set-up, into a fresh directory)."""

    def check_load(self) -> None:
        """Check the last load's output and point the oracles at it
        (outside the set-up timing)."""

    def warmup_ops(self) -> list:
        """The ops that warm the engine up in set-up, followed by one
        round end; their outputs are checked after the set-up timing."""
        raise NotImplementedError

    def rounds(self):
        """Endless iterator of rounds (lists of ops)."""
        raise NotImplementedError

    def run(self, op):
        raise NotImplementedError

    def check(self, op, out) -> None:
        raise NotImplementedError

    def input_rows(self, op) -> int:
        raise NotImplementedError

    def end_round(self) -> None:
        pass

    def label(self, op) -> str:
        """The op's kind, for the per-kind latency log."""
        raise NotImplementedError

    def trace_targets(self) -> dict[str, tuple[object, str]]:
        """Span targets of the traced run (see trace.Tracer.install)."""
        from comperhensive_bigdata_analysis__spark import export, query, session
        from comperhensive_bigdata_analysis__spark.sources import ingest, tables

        return {
            "query.translate": (query, "translate"),
            "query.plan": (query.Engine, "sql"),
            "export.collect": (export, "to_pandas"),
            "session.apply_confs": (session, "apply_runtime_confs"),
            "sources.ingest.ingest_csv": (ingest, "ingest_csv"),
            "sources.ingest.preprocess": (ingest, "preprocess"),
            "sources.tables.load_table": (tables, "load_table"),
        }

    def trace_probes(self) -> dict:
        from comperhensive_bigdata_analysis__spark.sources import tables

        return {"sources.tables.load_table": lambda: len(tables._TABLE_CACHE)}


class AnalystSQL(Workload):
    """Reference query shapes Q0-Q12 and J1 through ``Engine.sql`` and
    ``export.to_pandas``; one Q5 request per round adds a grouped
    forecast of its series and the MAPE."""

    name = "analyst_sql"

    def __init__(self, ctx: Context):
        from comperhensive_bigdata_analysis__spark.query import Engine

        super().__init__(ctx)
        self.engine = Engine(ctx.spark)
        self.rows: dict[str, int] = {}
        self.expected: dict[str, pd.DataFrame] = {}
        self.expected_mape: dict[str, float] = {}

    def generate(self) -> None:
        self.csvs = gen.analyst_tables(self.ctx.seed, self.ctx.size, os.path.join(self.ctx.work, "input"))
        self.rows = {table: f.rows for table, f in self.csvs.items()}
        self.input_bytes = sum(os.path.getsize(f.path) for f in self.csvs.values())

    def load(self, rep: int) -> None:
        self.pq_dir = os.path.join(self.ctx.work, f"setup{rep}")
        self.loaded = {}
        for table, f in self.csvs.items():
            self.loaded[table] = self.engine.ingest(f.path, table=table, parquet_dir=self.pq_dir)
            self.ctx.count("sources.ingest.bytes_in", os.path.getsize(f.path))
            self.ctx.count("sources.ingest.bytes_written", parquet_bytes(os.path.join(self.pq_dir, table)))

    def check_load(self) -> None:
        # every ingest against the generator's truth, so the DuckDB
        # oracle below reads Parquet known to hold the generated tables
        for table, df in self.loaded.items():
            self.setup_checks += 1
            bad = ingest_mismatch(self.csvs[table], df)
            if bad:
                self.setup_errors.append(bad)
        self.stored_bytes = parquet_bytes(self.pq_dir)
        self._connect_duck({table: os.path.join(self.pq_dir, table) for table in self.csvs})
        self.expected.clear()
        self.expected_mape.clear()

    def rounds(self):
        return gen.iter_analyst_rounds(self.ctx.seed, self.ctx.size)

    def warmup_ops(self) -> list:
        # a forecast request and three others of another seed's round
        rnd = next(gen.iter_analyst_rounds(self.ctx.seed + 10**6, self.ctx.size))
        return sorted(rnd, key=lambda r: not r.forecast)[:4]

    def run(self, req: gen.Request):
        from comperhensive_bigdata_analysis__spark import export

        df = self.engine.sql(req.sql)
        pdf = export.to_pandas(df)
        self.ctx.count("export.rows_out", len(pdf))
        if not req.forecast:
            return pdf, None
        with self.ctx.span("forecast.grouped_forecast"):
            return pdf, self._forecast_mape(df)

    def _forecast_mape(self, q5) -> float:
        """Hold out the series' last FORECAST_HORIZON days, forecast them
        from the rest and return the MAPE."""
        from pyspark.sql import functions as F

        from comperhensive_bigdata_analysis__spark import forecast

        cut = F.to_date(F.lit(forecast_split()))
        train = q5.where(F.to_date("ds") <= cut).select(F.lit("capacity").alias("grp"), "ds", "y")
        test = q5.where(F.to_date("ds") > cut).select(
            F.lit("capacity").alias("group"), F.to_date("ds").alias("ds"), "y")
        fc = forecast.grouped_forecast(train, "grp", "ds", "y", horizon=gen.FORECAST_HORIZON)
        self.ctx.count("forecast.groups", 1)
        return forecast.mape(test, fc, ["group", "ds"]).first()["mape"]

    def _duckify(self, sql: str) -> str:
        # DuckDB has no Presto date(); the engine gets the verbatim text
        return re.sub(r"\bdate\(([^)]*)\)", r"CAST(\1 AS TIMESTAMP)", sql)

    def check(self, req: gen.Request, out) -> None:
        pdf, mape = out
        if req.limit_only:
            if len(pdf) != req.limit_only:
                raise WrongOutput(f"{req.shape}: {len(pdf)} rows, want {req.limit_only}")
            return
        want = self.expected.get(req.sql)
        if want is None:
            want = self.expected[req.sql] = self.duck.execute(self._duckify(req.sql)).fetchdf()
        bad = frame_mismatch(pdf, want, req.order_by)
        if bad:
            raise WrongOutput(f"{req.shape}: {bad}")
        if req.forecast:
            ref = self.expected_mape.get(req.sql)
            if ref is None:
                ref = self.expected_mape[req.sql] = reference_mape(want)
            if not (mape is not None and math.isclose(mape, ref, rel_tol=1e-6)):
                raise WrongOutput(f"forecast MAPE {mape} != reference {ref}")

    def input_rows(self, req: gen.Request) -> int:
        return sum(self.rows[t] for t in req.tables)

    def label(self, req: gen.Request) -> str:
        return req.shape


def forecast_split() -> str:
    """Last training day of the forecast: the timeseries' final
    FORECAST_HORIZON days are held out."""
    return (pd.Timestamp(gen.TS_LAST_DAY) - pd.Timedelta(days=gen.FORECAST_HORIZON)).strftime("%Y-%m-%d")


def _seasonal_forecast(ds: pd.Series, y: np.ndarray, horizon: int) -> np.ndarray:
    """Reference fit for the engine's default "seasonal" forecast tier:
    intercept, linear trend and three weekly sine/cosine harmonics by
    ridge-regularized least squares (ridge 1e-6 on the harmonics only),
    extrapolated ``horizon`` days past the last training day."""
    x = np.array([d.toordinal() for d in ds], dtype="float64")

    def design(t):
        cols = [np.ones_like(t), t - x[0]]
        for k in range(1, 4):
            w = 2.0 * np.pi * k / 7.0
            cols += [np.sin(w * t), np.cos(w * t)]
        return np.column_stack(cols)

    X = design(x)
    lam = np.diag([0.0, 0.0] + [1e-6] * (X.shape[1] - 2))
    w = np.linalg.solve(X.T @ X + lam, X.T @ y)
    fx = x.max() + np.arange(1, horizon + 1, dtype="float64")
    return design(fx) @ w


def reference_mape(series: pd.DataFrame) -> float:
    """MAPE over the held-out days, refitted from the DuckDB result."""
    ds = pd.to_datetime(series["ds"]).dt.date
    cut = pd.Timestamp(forecast_split()).date()
    train = series[ds <= cut].assign(ds=ds[ds <= cut]).sort_values("ds")
    test = series[ds > cut].sort_values("ds")
    yhat = _seasonal_forecast(train["ds"], train["y"].to_numpy(dtype="float64"), gen.FORECAST_HORIZON)
    y = test["y"].to_numpy(dtype="float64")
    return float(np.mean(np.abs((y - yhat[: len(y)]) / y)))


class IngestBatch(Workload):
    """``Engine.ingest`` of every file of a dirty CSV folder to typed
    Parquet, overwritten on each op."""

    name = "ingest_batch"

    def __init__(self, ctx: Context):
        from comperhensive_bigdata_analysis__spark.query import Engine

        super().__init__(ctx)
        self.engine = Engine(ctx.spark)

    def generate(self) -> None:
        self.files = gen.ingest_folder(self.ctx.seed, self.ctx.size, os.path.join(self.ctx.work, "input"))
        self.out_dir = os.path.join(self.ctx.work, "parquet")

    def rounds(self):
        # the stored-bytes ratio counts the measured ingests only
        self.stored_bytes = self.input_bytes = 0
        rng = np.random.default_rng([self.ctx.seed, 6])
        while True:
            yield [self.files[i] for i in rng.permutation(len(self.files))]

    def warmup_ops(self) -> list:
        return sorted(self.files, key=lambda f: f.rows)[:2]

    def run(self, f: gen.IngestFile):
        return self.engine.ingest(f.path, parquet_dir=self.out_dir)

    def check(self, f: gen.IngestFile, df) -> None:
        from comperhensive_bigdata_analysis__spark.sources.ingest import table_name_for

        written = parquet_bytes(os.path.join(self.out_dir, table_name_for(f.path)))
        size = os.path.getsize(f.path)
        self.stored_bytes += written
        self.input_bytes += size
        self.ctx.count("sources.ingest.bytes_written", written)
        self.ctx.count("sources.ingest.bytes_in", size)
        bad = ingest_mismatch(f, df)
        if bad:
            raise WrongOutput(bad)

    def input_rows(self, f: gen.IngestFile) -> int:
        return f.rows

    def label(self, f: gen.IngestFile) -> str:
        return f"rows{f.rows}"


class CurationCorpus(Workload):
    """The curation plans and a kNN over an inflated docs/vectors corpus;
    plan caches are released at the end of every round."""

    name = "curation_corpus"

    def __init__(self, ctx: Context):
        super().__init__(ctx)
        self.expected: dict[str, tuple] = {}

    def generate(self) -> None:
        self.base = os.path.join(self.ctx.work, "input")
        gen.corpus_base(self.ctx.seed, self.ctx.size, self.base)
        self.input_bytes = sum(
            os.path.getsize(os.path.join(self.base, f)) for f in os.listdir(self.base)
        ) * self.ctx.size.inflate

    def load(self, rep: int) -> None:
        from comperhensive_bigdata_analysis__spark.sources import inflate

        with self.ctx.span("sources.inflate.inflate_corpus"):
            self.sf_dir = inflate.inflate_corpus(
                self.ctx.spark, self.base, os.path.join(self.ctx.work, f"setup{rep}"), self.ctx.size.inflate)

    def check_load(self) -> None:
        self.stored_bytes = parquet_bytes(self.sf_dir)
        self.n_docs = self.ctx.size.docs * self.ctx.size.inflate
        self.n_vecs = self.ctx.size.vectors * self.ctx.size.inflate
        self._connect_duck({t: os.path.join(self.sf_dir, f"{t}.parquet") for t in ("documents", "embeddings")})
        self.vectors = self.duck.execute(
            "SELECT vec_id, embedding FROM embeddings ORDER BY vec_id").fetchdf()
        # the inflation must give inflate x the rows under distinct keys
        for table, key, want in (("documents", "doc_id", self.n_docs), ("embeddings", "vec_id", self.n_vecs)):
            self.setup_checks += 1
            n, keys = self.duck.execute(f"SELECT count(*), count(DISTINCT {key}) FROM {table}").fetchone()
            if n != want or keys != want:
                self.setup_errors.append(f"inflated {table}: {n} rows, {keys} keys, want {want}")
        self.expected.clear()

    def rounds(self):
        return gen.iter_curation_rounds(self.ctx.seed)

    def warmup_ops(self) -> list:
        return next(gen.iter_curation_rounds(self.ctx.seed + 10**6))

    def run(self, op):
        from comperhensive_bigdata_analysis__spark import cache, plans
        from comperhensive_bigdata_analysis__spark.operators import similarity
        from comperhensive_bigdata_analysis__spark.sources import tables

        name, queries = op
        spark = self.ctx.spark
        with self.ctx.span("plans.build"):
            if name == "knn":
                vectors = tables.load_table(spark, self.sf_dir, "embeddings")
                q = spark.createDataFrame(
                    [(-1 - i, v.tolist()) for i, v in enumerate(queries)],
                    "query_id bigint, embedding array<float>")
                df = similarity.brute_force_knn(vectors, q, k=gen.KNN_K)
            else:
                df = plans.QUERIES[name](spark, self.sf_dir)
        with self.ctx.span("plans.execute"):
            out = df.toArrow()
        self.ctx.count("cache.plan_caches_live", len(cache._PLAN_CACHES))
        return out

    def end_round(self) -> None:
        from comperhensive_bigdata_analysis__spark import cache

        with self.ctx.span("cache.release"):
            self.ctx.count("cache.released", cache.release_plan_caches())

    def check(self, op, tbl) -> None:
        from comperhensive_bigdata_analysis__spark import plans

        name, queries = op
        if name == "knn":
            return self._check_knn(queries, tbl)
        rows = [tuple(r.values()) for r in tbl.to_pylist()]
        want = self.expected.get(name)
        if want is None:
            cur = self.duck.execute(plans.ORACLES[name])
            want = self.expected[name] = normalize(
                [tuple(r) for r in cur.fetchall()], [d[0] for d in cur.description])
        got = normalize(rows, tbl.column_names)
        if got[0] != want[0]:
            raise WrongOutput(f"{name}: columns {got[0]} != {want[0]}")
        if got[1] != want[1]:
            raise WrongOutput(f"{name}: {len(got[1])} rows, {len(want[1])} expected, values differ")

    def _check_knn(self, queries: np.ndarray, tbl) -> None:
        """Exact top-k cosine neighbours by numpy (float64 over the
        stored float32 components), ids exact and cosines within 1e-9."""
        ids = self.vectors["vec_id"].to_numpy()
        m = np.stack(self.vectors["embedding"].to_numpy()).astype("float64")
        qs = queries.astype("float64")
        cos = (qs @ m.T) / (np.linalg.norm(qs, axis=1)[:, None] * np.linalg.norm(m, axis=1)[None, :])
        got = tbl.to_pandas().sort_values(["query_id", "rank"])
        for i in range(len(qs)):
            order = np.lexsort((ids, -cos[i]))[: gen.KNN_K]
            g = got[got["query_id"] == -1 - i]
            if g["vec_id"].tolist() != ids[order].tolist():
                raise WrongOutput(f"knn query {i}: neighbours differ")
            if not np.allclose(g["cosine"].to_numpy(), cos[i][order], rtol=1e-9, atol=0):
                raise WrongOutput(f"knn query {i}: cosines differ")

    def input_rows(self, op) -> int:
        return self.n_vecs if op[0] == "knn" else self.n_docs

    def label(self, op) -> str:
        return op[0]

    def trace_targets(self):
        from comperhensive_bigdata_analysis__spark.operators import curation, dedup, similarity

        targets = super().trace_targets()
        for mod in (dedup, similarity, curation):
            targets.update(operator_targets(mod))
        return targets


WORKLOADS = {w.name: w for w in (AnalystSQL, IngestBatch, CurationCorpus)}

"""Seeded input generator for the benchmark workloads.

Every table, CSV folder, SQL parameter and op order the benchmark feeds
the engine comes from here, driven by one integer seed: the same seed
and size give byte-identical files and the same op sequence. The engine
only ever sees the written files and the SQL text.

Table shapes follow FIXTURES.md:

- section 1 ``renewable_power_plants_de`` (23 columns, padded NUTS
  codes, NULL-heavy columns, 'YYYY-MM-DD' date strings),
- section 2 ``renewable_capacity_timeseries`` (daily 1980-2020, every
  day twice, 40 columns of monotone step-function capacities),
- section 3 ``nuts_germany`` (459-row code lookup, raw headers with
  spaces),

plus the ingest folder (dirty CSVs of skewed sizes, with the schema the
ingest pipeline must produce) and a documents/embeddings corpus shaped
like the test corpus's (``sources.inflate`` inflates it in set-up).
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

INT_WIDTH_BOUND = 2**30

TECHNOLOGIES = [
    "Photovoltaics", "Onshore", "Offshore", "Biomass and biogas",
    "Run-of-river", "Photovoltaics ground", "Geothermal", "Sewage gas",
]
LEVEL2 = {
    "Photovoltaics": "Solar", "Photovoltaics ground": "Solar",
    "Onshore": "Wind", "Offshore": "Wind", "Biomass and biogas": "Bioenergy",
    "Sewage gas": "Bioenergy", "Run-of-river": "Hydro", "Geothermal": "Geothermal",
}
TSOS = ["Amprion", "TenneT", "TransnetBW", "50Hertz"]
STATES = [
    "Baden-Wuerttemberg", "Bayern", "Berlin", "Brandenburg", "Bremen",
    "Hamburg", "Hessen", "Mecklenburg-Vorpommern", "Niedersachsen",
    "Nordrhein-Westfalen", "Rheinland-Pfalz", "Saarland", "Sachsen",
    "Sachsen-Anhalt", "Schleswig-Holstein", "Thueringen",
]
VOLTAGES = ["low voltage", "medium voltage", "high voltage"]
TOWNS = [
    "Aachen", "Bonn", "Celle", "Dessau", "Erfurt", "Fulda", "Goslar", "Hameln",
    "Jena", "Kiel", "Lahr", "Mainz", "Neuss", "Passau", "Rostock", "Suhl",
]
DSOS = [f"Netz {c} GmbH" for c in "ABCDEFGHIJKL"]
_CODE_CHARS = "123456789ABCDEFGHIJKLMNOPQRSTUVWXY"

# FIXTURES.md section 2: the 34 query-named capacity columns plus 5 pads.
TS_COLUMNS = [
    "ch_bioenergy_capacity", "ch_solar_capacity", "ch_wind_onshore_capacity",
    "de_bioenergy_capacity", "de_geothermal_capacity", "de_solar_capacity",
    "de_wind_offshore_capacity", "de_wind_onshore_capacity",
    "dk_solar_capacity", "dk_wind_offshore_capacity", "dk_wind_onshore_capacity",
    "fr_bioenergy_capacity", "fr_geothermal_capacity", "fr_hydro_capacity",
    "fr_marine_capacity", "fr_solar_capacity", "fr_wind_onshore_capacity",
    "gb_gbn_bioenergy_capacity", "gb_gbn_solar_capacity",
    "gb_gbn_wind_onshore_capacity", "gb_gbn_wind_offshore_capacity",
    "gb_gbn_hydro_capacity", "gb_gbn_marine_capacity",
    "gb_nir_bioenergy_capacity", "gb_nir_solar_capacity",
    "gb_nir_wind_onshore_capacity", "gb_ukm_bioenergy_capacity",
    "gb_ukm_solar_capacity", "gb_ukm_wind_onshore_capacity",
    "gb_ukm_wind_offshore_capacity", "gb_ukm_hydro_capacity",
    "gb_ukm_marine_capacity", "se_wind_onshore_capacity",
    "se_wind_offshore_capacity",
    "at_solar_capacity", "at_wind_onshore_capacity", "be_solar_capacity",
    "be_wind_offshore_capacity", "nl_wind_onshore_capacity",
]
TS_FIRST_DAY, TS_LAST_DAY = "1980-01-01", "2020-12-31"

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
EMBED_DIM = 64


@dataclass(frozen=True)
class Size:
    plants: int
    #: rows per ingest-folder file (the reference's 11-file skew)
    ingest_rows: tuple[int, ...]
    docs: int
    vectors: int
    inflate: int
    #: analyst requests per round, the work of one measured run (one
    #: forecast request in each)
    round_len: int = 19


SIZES = {
    "full": Size(
        plants=5_000,
        ingest_rows=(20, 60, 200, 500, 1_200, 2_500, 4_000, 6_000, 9_000,
                     13_000, 18_000),
        docs=1_500,
        vectors=600,
        inflate=2,
    ),
    "tiny": Size(
        plants=2_000,
        ingest_rows=(20, 60, 200, 500),
        docs=300,
        vectors=120,
        inflate=2,
        round_len=10,
    ),
}


def _day_strings(start: str, end: str) -> np.ndarray:
    return pd.date_range(start, end, freq="D").strftime("%Y-%m-%d").to_numpy()


def _frac(x: np.ndarray) -> np.ndarray:
    """Round to 4 decimals and keep every value non-integral, so CSV
    inference reads the column as double, never as int."""
    x = np.round(x, 4)
    return np.where(x == np.floor(x), x + 0.0005, x)


def _write_csv(df: pd.DataFrame, path: str) -> None:
    df.to_csv(path, index=False, float_format="%.4f", lineterminator="\n")


def _write_parquet(df: pd.DataFrame, path: str) -> None:
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), path,
                   compression="snappy")


# --- FIXTURES section 3: NUTS codes -----------------------------------------


def nuts_codes() -> tuple[list[str], list[str], list[str]]:
    """16 level-1, 38 level-2 and 401 level-3 German NUTS codes; every
    code extends its parent's. Seed-independent (the codes are a fixed
    vocabulary, like the real lookup)."""
    l1 = [f"DE{c}" for c in "123456789ABCDEFG"]
    l2 = [p + _CODE_CHARS[j] for i, p in enumerate(l1) for j in range(3 if i < 6 else 2)]
    l3 = []
    for i, p in enumerate(l2):
        for j in range(11 if i < 21 else 10):
            l3.append(p + _CODE_CHARS[j])
    return l1, l2, l3[:401]


def nuts_frame() -> pd.DataFrame:
    l1, l2, l3 = nuts_codes()
    rows = [("DE", "Deutschland", None, None, None, 0)]
    rows += [(c, None, f"Land {c}", None, None, 1) for c in l1]
    rows += [(c, None, None, f"Region {c}", None, 2) for c in l2]
    rows += [(c, None, None, None, f"Kreis {c}", 3) for c in l3]
    rows += [("DEZ", None, "Extra-Regio", None, None, 1),
             ("DEZZ", None, None, "Extra-Regio", None, 2),
             ("DEZZZ", None, None, None, "Extra-Regio", 3)]
    return pd.DataFrame(
        rows,
        columns=["Code 2021", "Country", "NUTS level 1", "NUTS level 2",
                 "NUTS level 3", "NUTS level"],
    )


# --- FIXTURES section 1: the plant fact table --------------------------------


def _pad(rng, codes: np.ndarray) -> np.ndarray:
    pads = np.array(["", "", "", " ", "  "])
    left = pads[rng.integers(0, len(pads), len(codes))]
    right = pads[rng.integers(0, len(pads), len(codes))]
    return np.char.add(np.char.add(left, codes.astype(str)), right)


def _nullify(rng, values, share: float):
    out = np.asarray(values, dtype=object).copy()
    out[rng.random(len(out)) < share] = None
    return out


def plants_frame(rng: np.random.Generator, n: int) -> pd.DataFrame:
    _, _, l3 = nuts_codes()
    n3 = np.array(l3)[rng.integers(0, len(l3), n)]
    n2 = np.array([c[:4] for c in n3])
    n1 = np.array([c[:3] for c in n3])
    tech = np.array(TECHNOLOGIES)[rng.integers(0, len(TECHNOLOGIES), n)]
    cap = _frac(np.clip(rng.lognormal(-1.0, 1.6, n), 0.001, 200.0))
    # lon/lat NULLs co-occur and sit on the small plants
    geo_null = (rng.random(n) < 0.05) & (cap < np.median(cap))
    lon = np.where(geo_null, np.nan, _frac(rng.uniform(5.5, 15.5, n)))
    lat = np.where(geo_null, np.nan, _frac(rng.uniform(47.0, 55.0, n)))
    comm = _day_strings("1990-01-01", "2020-12-31")
    decomm = _day_strings("2000-01-01", "2020-12-31")
    postcode = np.where(rng.random(n) < 0.1, np.nan,
                        rng.integers(10_000, 99_999, n) + 0.0)
    dso_idx = rng.integers(0, len(DSOS), n)
    dso_missing = rng.random(n) < 0.02
    return pd.DataFrame({
        "electrical_capacity": cap,
        "energy_source_level_1": "Renewable energy",
        "energy_source_level_2": [LEVEL2[t] for t in tech],
        "energy_source_level_3": _nullify(rng, np.where(tech == "Onshore", "Wind onshore", "Other"), 0.9),
        "technology": tech,
        "data_source": np.array(TSOS)[rng.integers(0, 4, n)],
        "nuts_1_region": _nullify(rng, _pad(rng, n1), 0.01),
        "nuts_2_region": _nullify(rng, _pad(rng, n2), 0.01),
        "nuts_3_region": _nullify(rng, _pad(rng, n3), 0.01),
        "lon": lon,
        "lat": lat,
        "municipality": _nullify(rng, np.array(TOWNS)[rng.integers(0, len(TOWNS), n)], 0.4),
        "municipality_code": rng.integers(1_000_000, 9_999_999, n),
        "postcode": postcode,
        "address": _nullify(rng, np.char.add("Strasse ", rng.integers(1, 200, n).astype(str)), 0.7),
        "federal_state": _nullify(rng, np.array(STATES)[rng.integers(0, len(STATES), n)], 0.01),
        "commissioning_date": comm[rng.integers(0, len(comm), n)],
        "decommissioning_date": _nullify(rng, decomm[rng.integers(0, len(decomm), n)], 0.98),
        "voltage_level": _nullify(rng, np.array(VOLTAGES)[rng.integers(0, 3, n)], 0.05),
        "eeg_id": _nullify(rng, np.char.add("E", rng.integers(10**9, 10**10, n).astype(str)), 0.95),
        "dso": np.where(dso_missing, None, np.array(DSOS, dtype=object)[dso_idx]),
        "dso_id": np.where(dso_missing, np.nan, 10_000_000.0 + dso_idx * 1_111_111 + 0.5),
        "tso": np.array(TSOS)[rng.integers(0, 4, n)],
    })


# --- FIXTURES section 2: the wide daily timeseries ---------------------------


def timeseries_frame(rng: np.random.Generator) -> pd.DataFrame:
    days = _day_strings(TS_FIRST_DAY, TS_LAST_DAY)
    n = len(days)
    cols = {}
    for c in TS_COLUMNS:
        # zero before the source's introduction, then a monotone step
        # function with long flat runs
        intro = int(rng.integers(0, n // 2))
        steps = np.zeros(n)
        k = int(rng.integers(20, 80))
        at = np.sort(rng.integers(intro, n, k))
        np.add.at(steps, at, np.round(rng.gamma(2.0, 40.0, k), 3))
        cols[c] = np.round(np.cumsum(steps), 3)
    df = pd.DataFrame({"day": days, **cols})
    # every day twice (reference: 22,588 rows vs 11,294 distinct days)
    return df.loc[np.repeat(np.arange(n), 2)].reset_index(drop=True)


# --- ingest folder -------------------------------------------------------------


@dataclass
class IngestFile:
    """A CSV the engine ingests, with the truth its ingest must produce."""

    path: str
    rows: int
    #: the (sanitized column, Spark SQL type) list ingest must produce
    schema: list[tuple[str, str]]
    #: sanitized names of the all-NULL columns ingest must drop
    dropped: list[str] = field(default_factory=list)


def sanitized(name: str) -> str:
    """A raw CSV header as the ingest pipeline must name the column:
    every character outside [A-Za-z0-9_] becomes '_', runs of '_' one."""
    return re.sub(r"_+", "_", re.sub(r"[^A-Za-z0-9_]", "_", name))


def ingest_truth(df: pd.DataFrame, path: str, timestamps: set[str]) -> IngestFile:
    """What ingesting ``df``'s CSV at ``path`` must give, from the frame
    the generator wrote: all-NULL columns dropped; the ``timestamps``
    columns (date or date-time strings) as timestamp; integer columns
    strictly inside +/-2**30 as int, others as bigint; floats as double;
    everything else as string."""
    schema, dropped = [], []
    for raw in df.columns:
        col, name = df[raw], sanitized(raw)
        if col.isna().all():
            dropped.append(name)
        elif raw in timestamps:
            schema.append((name, "timestamp"))
        elif pd.api.types.is_integer_dtype(col):
            narrow = col.min() > -INT_WIDTH_BOUND and col.max() < INT_WIDTH_BOUND
            schema.append((name, "int" if narrow else "bigint"))
        elif pd.api.types.is_float_dtype(col):
            schema.append((name, "double"))
        else:
            schema.append((name, "string"))
    return IngestFile(path, len(df), schema, dropped)


def ingest_frame(rng: np.random.Generator, n: int, file_no: int) -> pd.DataFrame:
    _, _, l3 = nuts_codes()
    days = _day_strings("1995-01-01", "2020-12-31")
    big = rng.integers(INT_WIDTH_BOUND + 1, 2**40, n)
    big[0] = INT_WIDTH_BOUND + 7  # the width probe must see > 2**30
    stamps = pd.Timestamp("2021-01-01") + pd.to_timedelta(rng.integers(0, 10**7, n), unit="s")
    sparse = np.where(rng.random(n) < 0.3, np.nan, rng.integers(1, 99_999, n))
    return pd.DataFrame({
        "Plant ID": file_no * 1_000_000 + np.arange(n),
        "Meter-Reading Wh": big,
        "Capacity (MW)": _frac(rng.lognormal(0.0, 1.0, n)),
        "NUTS  Code": _pad(rng, np.array(l3)[rng.integers(0, len(l3), n)]),
        "Federal State": np.array(STATES)[rng.integers(0, len(STATES), n)],
        "Commissioning Date": days[rng.integers(0, len(days), n)],
        "Last-Update": stamps.strftime("%Y-%m-%d %H:%M:%S"),
        "Comment Field": [None] * n,
        # an integer column with NULLs: pandas would write it as float
        "dso-id": pd.array(np.where(np.isnan(sparse), None, sparse), dtype="Int64"),
    })


def ingest_folder(seed: int, size: Size, folder: str) -> list[IngestFile]:
    """Write the dirty CSV folder; returns one IngestFile per CSV."""
    rng = np.random.default_rng([seed, 2])
    os.makedirs(folder, exist_ok=True)
    files = []
    for i, n in enumerate(size.ingest_rows):
        df = ingest_frame(rng, n, i)
        path = os.path.join(folder, f"plant_batch_{i:02d}.csv")
        _write_csv(df, path)
        files.append(ingest_truth(df, path, {"Commissioning Date", "Last-Update"}))
    return files


# --- analyst tables and request stream ----------------------------------------

PLANTS, TIMESERIES, NUTS = (
    "renewable_power_plants_de",
    "renewable_capacity_timeseries",
    "nuts_germany",
)


#: columns of the analyst tables that hold 'YYYY-MM-DD' date strings
_DATE_COLUMNS = {"commissioning_date", "decommissioning_date", "day"}


def analyst_tables(seed: int, size: Size, folder: str) -> dict[str, IngestFile]:
    """Write the FIXTURES section 1-3 tables as CSV; returns {table:
    its CSV with the truth its ingest must produce}."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(folder, exist_ok=True)
    frames = {
        PLANTS: plants_frame(rng, size.plants),
        TIMESERIES: timeseries_frame(rng),
        NUTS: nuts_frame(),
    }
    out = {}
    for name, df in frames.items():
        path = os.path.join(folder, f"{name}.csv")
        _write_csv(df, path)
        out[name] = ingest_truth(df, path, _DATE_COLUMNS)
    return out


@dataclass(frozen=True)
class Request:
    """One analyst request: a reference query shape with its parameters,
    rendered to SQL text. ``forecast`` marks the Q5 + forecast + MAPE
    request; ``order_by`` names the result columns of its ORDER BY, whose
    values must come in that order."""

    shape: str
    sql: str
    tables: tuple[str, ...]
    order_by: tuple[str, ...] = ()
    limit_only: int = 0
    forecast: bool = False


#: Q-shapes of one analyst round before the forecast slot is added,
#: weighted as often as the reference notebook issues them (SURVEY.md
#: sections 2.12 and 2.1: Q1 twice, ipynb:72,76; the J1 join four times,
#: ipynb:2654/3094/3546/3629; every other shape once). Every round, and
#: so every seed, holds the same mix.
_ROUND_SHAPES = ("q0", "q1", "q1", "q2", "q3", "q4", "q5", "q6", "q7", "q8",
                 "q9", "q10", "q11", "q12", "j1", "j1", "j1", "j1")


def _cutoff(rng, year: int) -> str:
    return f"{year}-{int(rng.integers(1, 13)):02d}-01"


def _states(rng, k: int) -> str:
    pick = sorted(rng.choice(len(STATES), k, replace=False))
    return ", ".join(f"'{STATES[i]}'" for i in pick)


def _round_params(rng) -> dict:
    """Per-round parameter ladders, each dealt out in a seeded order: the
    parameters that set how much work a request does (date cutoff year,
    state-subset size, NUTS level, which table) take the same values in
    every round, so every round and seed does the same work."""

    def deal(values):
        return iter([values[i] for i in rng.permutation(len(values))])

    return {
        "ts_year": deal([1990, 1996, 2002, 2008, 2014]),
        "n_states": deal([4, 5, 6, 7, 8, 9, 10, 12]),
        # Q12 and the four J1s: the notebook's J1 at NUTS 1, 2 and 3, and
        # Q12 and the parameterized J1 at its nuts_level (3)
        "level": deal([1, 2, 3, 3, 3]),
        "table": deal([TIMESERIES, PLANTS]),
    }


def _q9(level: int, states: str, nested_order: bool = True) -> str:
    order = "order by 2 desc" if nested_order else ""
    return f"""select trim(nuts_{level}_region) nuts_{level}_region,
       sum(electrical_capacity) electrical_capacity_sum
from {PLANTS}
where federal_state in (select federal_state from {PLANTS} where federal_state in ({states}))
  and lon is not null and lat is not null
group by trim(nuts_{level}_region)
{order}"""


def q5_sql(cutoff: str) -> str:
    return f"""select distinct day ds,
       de_solar_capacity + ch_solar_capacity + fr_solar_capacity y
from {TIMESERIES}
where day >= date('{cutoff}')
order by ds asc"""


def render(shape: str, rng, params: dict) -> Request:
    """Render one reference query shape (SURVEY Q0-Q12, J1) with seeded
    parameters drawn from the round's ladders (``_round_params``)."""
    ts, pl = (TIMESERIES,), (PLANTS,)
    if shape == "q0":
        k = int(rng.integers(5, 50))
        return Request(shape, f"select * from {PLANTS} limit {k}", pl, limit_only=k)
    if shape == "q1":
        t = next(params["table"])
        return Request(shape, f"SELECT COUNT(*) AS rows FROM {t}", (t,))
    if shape == "q2":
        return Request(shape, f"""select de_solar_capacity + ch_solar_capacity + fr_solar_capacity solar,
       de_wind_onshore_capacity + ch_wind_onshore_capacity + fr_wind_onshore_capacity wind,
       day
from {TIMESERIES}
where day >= date('{_cutoff(rng, next(params["ts_year"]))}')
order by date(day) asc""", ts, ("day",))
    if shape == "q3":
        return Request(shape, f"""select de_solar_capacity + de_wind_onshore_capacity de,
       ch_solar_capacity + ch_wind_onshore_capacity ch,
       fr_solar_capacity + fr_wind_onshore_capacity fr,
       day
from {TIMESERIES}
where day >= date('{_cutoff(rng, next(params["ts_year"]))}')
order by day asc""", ts, ("day",))
    if shape == "q4":
        return Request(shape, f"""select distinct day, de_solar_capacity, ch_solar_capacity
from {TIMESERIES}
where day >= date('{_cutoff(rng, next(params["ts_year"]))}')
order by day asc""", ts, ("day",))
    if shape in ("q5", "forecast"):
        sql = q5_sql(_cutoff(rng, next(params["ts_year"])))
        return Request(shape, sql, ts, ("ds",), forecast=shape == "forecast")
    if shape == "q6":
        return Request(shape, f"""select technology, sum(electrical_capacity) electrical_capacity_sum
from {PLANTS}
group by technology
order by electrical_capacity_sum desc""", pl, ("electrical_capacity_sum",))
    if shape == "q7":
        return Request(shape, f"""select distinct technology, avg(electrical_capacity) electrical_capacity_avg
from {PLANTS}
group by technology
order by electrical_capacity_avg desc""", pl, ("electrical_capacity_avg",))
    if shape == "q8":
        k = int(rng.integers(3, 11))
        return Request(shape, f"""select federal_state, sum(electrical_capacity) electrical_capacity_sum
from {PLANTS}
where commissioning_date >= date('{_cutoff(rng, 2002)}')
group by federal_state
order by 2 desc limit {k}""", pl, ("electrical_capacity_sum",))
    if shape in ("q9", "q10", "q11", "q12"):
        level = {"q9": 1, "q10": 2, "q11": 3}.get(shape) or next(params["level"])
        return Request(shape, _q9(level, _states(rng, next(params["n_states"]))), (PLANTS, PLANTS),
                       ("electrical_capacity_sum",))
    if shape == "j1":
        level = next(params["level"])
        inner = _q9(level, _states(rng, next(params["n_states"])), nested_order=False)
        return Request(shape, f"""select n.NUTS_level_{level} region_name, r.electrical_capacity_sum
from ({inner}) r
left join {NUTS} n on r.nuts_{level}_region = n.Code_2021
order by 2 desc""", (PLANTS, PLANTS, NUTS), ("electrical_capacity_sum",))
    raise ValueError(f"unknown shape {shape}")


#: the forecast request's hold-out: the last FORECAST_HORIZON days
FORECAST_HORIZON = 90


def iter_analyst_rounds(seed: int, size: Size):
    """Endless rounds of ``size.round_len`` requests: a prefix of
    ``_ROUND_SHAPES``, then the forecast. Every round has the same shape
    multiset, with parameters dealt from its own ladders, and runs its
    requests in a seeded order."""
    rng = np.random.default_rng([seed, 3])
    shapes = list(_ROUND_SHAPES[: size.round_len - 1]) + ["forecast"]
    while True:
        params = _round_params(rng)
        reqs = [render(s, rng, params) for s in shapes]
        yield [reqs[i] for i in rng.permutation(len(reqs))]


# --- curation corpus -------------------------------------------------------------


def corpus_base(seed: int, size: Size, folder: str) -> None:
    """Write the 1x documents/embeddings corpus (plus the minimal
    lineitem/orders tables ``inflate_corpus`` also reads) as parquet."""
    rng = np.random.default_rng([seed, 4])
    os.makedirs(folder, exist_ok=True)
    n = size.docs
    vocab = np.array(VOCAB)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), int(rng.integers(8, 96)))]) for _ in range(n)]
    for i in range(1, n):
        r = rng.random()
        if r < 0.004:  # exact duplicate of an earlier doc
            texts[i] = texts[int(rng.integers(0, i))]
        elif r < 0.06:  # near duplicate: an earlier doc plus a marker tail
            texts[i] = texts[int(rng.integers(0, i))] + " dup" * int(rng.integers(1, 4))
    docs = pd.DataFrame({
        "doc_id": np.arange(n, dtype="int64"),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(len(LANGS), n, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    })
    _write_parquet(docs, os.path.join(folder, "documents.parquet"))

    m = size.vectors
    centers = rng.normal(0.0, 1.0, (10, EMBED_DIM))
    label = rng.integers(0, 10, m)
    vecs = (centers[label] + rng.normal(0.0, 0.8, (m, EMBED_DIM))) / 8.0
    emb = pa.table({
        "vec_id": pa.array(np.arange(m, dtype="int64")),
        "embedding": pa.array(list(vecs.astype("float32")), type=pa.list_(pa.float32())),
        "label": pa.array(label.astype("int32")),
    })
    pq.write_table(emb, os.path.join(folder, "embeddings.parquet"), compression="snappy")

    k = 64
    _write_parquet(pd.DataFrame({
        "l_orderkey": np.arange(k, dtype="int64") // 4,
        "l_partkey": rng.integers(0, 50, k).astype("int64"),
        "l_quantity": _frac(rng.uniform(1, 50, k)),
    }), os.path.join(folder, "lineitem.parquet"))
    _write_parquet(pd.DataFrame({
        "o_orderkey": np.arange(k // 4, dtype="int64"),
        "o_custkey": rng.integers(0, 20, k // 4).astype("int64"),
    }), os.path.join(folder, "orders.parquet"))


#: the curation plans of one round (plus one kNN op)
CURATION_PLANS = (
    "exact_dedup_docs", "doc_quality", "minhash_lsh_dedup",
    "corpus_clean_pipeline", "dsir_importance_weights", "exact_substr_spans",
)
KNN_QUERIES, KNN_K = 4, 10


def iter_curation_rounds(seed: int):
    """Endless rounds of (op, knn query vectors): the six plans and one
    kNN op in a seeded order; kNN query vectors are seeded per round."""
    rng = np.random.default_rng([seed, 5])
    ops = list(CURATION_PLANS) + ["knn"]
    while True:
        q = (rng.normal(0.0, 1.0, (KNN_QUERIES, EMBED_DIM)) / 8.0).astype("float32")
        yield [(ops[i], q if ops[i] == "knn" else None) for i in rng.permutation(len(ops))]

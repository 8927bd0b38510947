"""Seeded input generators for the end-to-end benchmark.

Every table is built with NumPy from ``numpy.random.default_rng(seed)``
and written with pyarrow, so one seed always yields the same bytes.
Row counts are fixed per workload; the seed only draws values.

- ``llm_dedup``: ``documents`` (30-word vocabulary, planted
  near-duplicates and exact duplicates), ``embeddings`` (unit 64-d
  float32) and ``events``, with the column names, types and value
  domains of the engine's fixture tables, so each registry query and
  its DuckDB oracle run unchanged against them.
- ``etl_star``: the reference pipeline's inputs (FIXTURES.md sections 1-4):
  a multi-file I94 parquet, the SAS labels text, a ``;``-separated
  demographics CSV and a temperatures CSV.

Run as a script to write one workload's inputs into a directory::

    python3 e2ebench/inputs.py --workload etl_star --seed 1 --out DIR
"""

from __future__ import annotations

import argparse
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

#: Rows per generated table; README.md gives the reasons for the sizes.
SIZES = {
    "events": 10_000,
    "documents": 2_000,
    "embeddings": 2_000,
    "i94": 20_000,
    "i94_files": 8,
    "temperatures": 20_000,
    "demographics_cities": 700,
}

_EPOCH = np.datetime64("1970-01-01T00:00:00", "us")
_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()


def _write_parquet(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def events_table(rng) -> pa.Table:
    ne = SIZES["events"]
    span_us = 30 * 86_400_000_000
    ts = _EPOCH + np.timedelta64(1_704_067_200_000_000, "us")  # 2024-01-01
    offs = np.sort(rng.integers(0, span_us, ne))
    kinds = np.array(["click", "error", "purchase", "signup", "view"])
    return pa.table(
        {
            "event_id": pa.array(np.arange(ne, dtype=np.int64)),
            "ts": pa.array(ts + offs.astype("timedelta64[us]")),
            "user_id": pa.array(rng.integers(0, 1500, ne)),
            "event_type": pa.array(kinds[rng.integers(0, 5, ne)]),
            "value": pa.array(_money(rng, 0.01, 500, ne)),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
        }
    )


def llm_tables(rng) -> dict[str, pa.Table]:
    nd, nv = SIZES["documents"], SIZES["embeddings"]
    vocab = np.array(_VOCAB)
    texts: list[str] = []
    lengths = rng.integers(10, 101, nd)
    # 5% of docs are an earlier doc plus one token (near-duplicates),
    # a few are verbatim copies (exact duplicates)
    kind = rng.random(nd)
    for i in range(nd):
        if i > 0 and kind[i] < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 0 and kind[i] < 0.053:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), lengths[i])]))
    langs = np.array(["en", "de", "es", "fr", "zh"])[
        rng.choice(5, nd, p=[0.4, 0.15, 0.15, 0.15, 0.15])
    ]
    documents = pa.table(
        {
            "doc_id": pa.array(np.arange(nd, dtype=np.int64)),
            "text": texts,
            "lang": pa.array(langs),
            "source": [f"src{i % 20}" for i in range(nd)],
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )
    vecs = rng.standard_normal((nv, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    embeddings = pa.table(
        {
            "vec_id": pa.array(np.arange(nv, dtype=np.int64)),
            "embedding": pa.FixedSizeListArray.from_arrays(
                pa.array(vecs.ravel()), 64
            ).cast(pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, nv).astype(np.int32)),
        }
    )
    return {"documents": documents, "embeddings": embeddings, "events": events_table(rng)}


# ---- reference-shaped ETL inputs (FIXTURES.md sections 1-4) ----

_SYL = ["BA", "KO", "RI", "TA", "NE", "LU", "MO", "SA", "VI", "DE", "GO", "PE"]
_SAS_APR_2016 = 20_545  # 2016-04-01 as days since 1960-01-01


def _place_names(n: int, seed_off: int) -> list[str]:
    """Deterministic distinct upper-case names; none contains
    'country', 'invalid' or 'not show' (the cleansing filter)."""
    out = []
    for k in range(n):
        i = seed_off + 7 * k  # offsets differ mod 7, so lists never share a name
        syl = [_SYL[(i // 12**j) % 12] for j in range(4)]
        out.append("".join(syl) + ("STAN" if i % 3 else "IA"))
    return out


def etl_inputs(rng, out: str) -> dict:
    n, n_files = SIZES["i94"], SIZES["i94_files"]
    countries = _place_names(180, 0)
    codes = rng.permutation(np.arange(100, 760))[: len(countries)]
    states = [f"{chr(65 + i // 26)}{chr(65 + i % 26)}" for i in range(55)]
    ports = [f"P{chr(65 + i // 26 % 26)}{chr(65 + i % 26)}" for i in range(120)]
    port_names = _place_names(len(ports), 5)

    lines = ["value i94cntyl"]
    lines += [f"   {c} = '{name}'" for c, name in zip(codes, countries)]
    lines += [
        "   582 = 'MEXICO Air Sea, and Not Reported (I-94, no land arrivals)'",
        "   998 = 'INVALID: STATELESS'",
        "   999 = 'No Country Code (999)'",
        "   997 = 'Collapsed (should not show)'",
        ";",
        "value i94prtl",
    ]
    lines += [
        f"   '{p}' = '{name}, {states[i % len(states)]}'"
        for i, (p, name) in enumerate(zip(ports, port_names))
    ]
    lines += [";", "value i94model", "   1 = 'Air'", "   2 = 'Sea'", "   3 = 'Land'",
              "   9 = 'Not reported'", ";", "value i94addrl"]
    lines += [f"   '{s}' = '{name}'" for s, name in zip(states, _place_names(55, 11))]
    lines += [";", ""]
    labels = "\n".join(lines)
    with open(os.path.join(out, "labels.sas"), "w") as f:
        f.write(labels)

    # I94 fact source: codes drawn from the label list plus codes with
    # no country row (the orphan i94cit of ipynb cells 85-88)
    cit_pool = np.r_[codes, [582, 148, 999, 761]]
    arr = _SAS_APR_2016 + rng.integers(0, 30, n)
    dep = arr + rng.integers(0, 300, n).astype(np.float64)
    dep[rng.random(n) < 0.04] = np.nan
    null_airline = rng.random(n) < 0.045
    null_gender = rng.random(n) < 0.045
    null_addr = rng.random(n) < 0.045
    planted = int((~(null_airline | null_gender | null_addr)).sum())

    def dbl(values) -> pa.Array:
        return pa.array(np.asarray(values, dtype=np.float64))

    all_null = np.ones(n, dtype=bool)
    airlines = np.array(["UA", "DL", "AA", "BA", "LH", "AF", "EK", "QF"])
    al = airlines[rng.integers(0, len(airlines), n)]
    cols = {
        "cicid": dbl(rng.permutation(n) + 1),
        "i94yr": dbl(np.full(n, 2016.0)),
        "i94mon": dbl(np.full(n, 4.0)),
        "i94cit": dbl(cit_pool[rng.integers(0, len(cit_pool), n)]),
        "i94res": dbl(cit_pool[rng.integers(0, len(cit_pool), n)]),
        "i94port": pa.array(np.array(ports)[rng.integers(0, len(ports), n)]),
        "arrdate": dbl(arr),
        "depdate": pa.array(dep, from_pandas=True),
        "i94mode": pa.array(
            np.array([1.0, 2.0, 3.0, 9.0])[rng.integers(0, 4, n)],
            mask=rng.random(n) < 0.01,
        ),
        "i94addr": pa.array(np.array(states)[rng.integers(0, len(states), n)], mask=null_addr),
        "i94bir": pa.array(rng.integers(1, 90, n).astype(np.float64), mask=rng.random(n) < 0.01),
        "i94visa": dbl(rng.integers(1, 4, n)),
        "count": dbl(np.ones(n)),
        "dtadfile": pa.array(
            np.char.add("201604", np.char.zfill(rng.integers(1, 31, n).astype(str), 2))
        ),
        "visapost": pa.array(np.full(n, "SEO"), mask=rng.random(n) < 0.6),
        "occup": pa.array(np.full(n, "STU"), mask=all_null),
        "entdepa": pa.array(np.array(["G", "T", "O"])[rng.integers(0, 3, n)]),
        "entdepd": pa.array(np.array(["O", "K"])[rng.integers(0, 2, n)], mask=rng.random(n) < 0.05),
        "entdepu": pa.array(np.full(n, "Y"), mask=all_null),
        "matflag": pa.array(np.full(n, "M"), mask=rng.random(n) < 0.05),
        "biryear": dbl(2016 - rng.integers(1, 90, n)),
        "dtaddto": pa.array(np.char.add("1015", np.full(n, "2016"))),
        "gender": pa.array(np.array(["F", "M"])[rng.integers(0, 2, n)], mask=null_gender),
        "insnum": pa.array(np.full(n, "3682"), mask=all_null),
        "airline": pa.array(al, mask=null_airline),
        "admnum": dbl(rng.integers(10**9, 10**11, n)),
        "fltno": pa.array(np.char.add(al, rng.integers(1, 9999, n).astype(str))),
        "visatype": pa.array(np.array(["B1", "B2", "WT", "WB", "F1", "E2"])[rng.integers(0, 6, n)]),
    }
    i94 = pa.table(cols)
    i94_dir = os.path.join(out, "i94")
    os.makedirs(i94_dir)
    step = -(-n // n_files)
    for k in range(n_files):
        _write_parquet(i94.slice(k * step, step), os.path.join(i94_dir, f"part-{k:05d}.parquet"))

    # demographics: one row per (city, race), constant city columns,
    # states covering 49 of the 55 i94addr codes
    races = ["American Indian and Alaska Native", "Asian", "Black or African-American",
             "Hispanic or Latino", "White"]
    header = ("City;State;Median Age;Male Population;Female Population;Total Population;"
              "Number of Veterans;Foreign-born;Average Household Size;State Code;Race;Count")
    rows = [header]
    city_names = _place_names(SIZES["demographics_cities"], 3)
    for ci, city in enumerate(city_names):
        st = states[ci % 49]
        male, female = (int(x) for x in rng.integers(5_000, 500_000, 2))
        vet, fb = int(rng.integers(100, 20_000)), int(rng.integers(100, 90_000))
        age = f"{rng.uniform(25, 45):.1f}"
        hh = "" if rng.random() < 0.005 else f"{rng.uniform(1.8, 3.6):.2f}"
        for race in [r for r in races if rng.random() < 0.85] or races[:1]:
            rows.append(f"{city.title()};{st}-STATE;{age};{male};{female};{male + female};"
                        f"{vet};{fb};{hh};{st};{race};{int(rng.integers(50, 200_000))}")
    with open(os.path.join(out, "demographics.csv"), "w") as f:
        f.write("\n".join(rows) + "\n")

    # temperatures: many rows per (city, country); countries in mixed
    # case, some absent from the label list
    nt = SIZES["temperatures"]
    t_countries = np.array([c.title() for c in countries[:150]] + _place_names(20, 900))
    cidx = rng.integers(0, len(t_countries), nt)
    temp = np.round(rng.normal(15, 10, nt), 3).astype(str)
    temp[rng.random(nt) < 0.04] = ""
    dts = np.datetime64("1900-01-01") + rng.integers(0, 40_000, nt).astype("timedelta64[D]")
    lat = [f"{abs(x):.2f}{'N' if x >= 0 else 'S'}" for x in rng.uniform(-60, 70, len(t_countries))]
    lon = [
        f"{abs(x):.2f}{'E' if x >= 0 else 'W'}" for x in rng.uniform(-170, 170, len(t_countries))
    ]
    unc = np.round(rng.uniform(0.1, 2.0, nt), 3)
    temps = pa.table(
        {
            "dt": pa.array(dts.astype(str)),
            "AverageTemperature": pa.array(temp.astype(str)),
            "AverageTemperatureUncertainty": pa.array(unc),
            "City": pa.array(np.char.add(np.char.add("C", (cidx % 40).astype(str)),
                                         np.array([c[:3] for c in t_countries])[cidx])),
            "Country": pa.array(t_countries[cidx]),
            "Latitude": pa.array(np.array(lat)[cidx]),
            "Longitude": pa.array(np.array(lon)[cidx]),
        }
    )
    with open(os.path.join(out, "temperatures.csv"), "wb") as f:
        f.write((",".join(temps.column_names) + "\n").encode())
        pacsv.write_csv(temps, f, pacsv.WriteOptions(include_header=False, quoting_style="none"))
    return {"fact_rows": planted}


def generate(workload: str, seed: int, out: str) -> dict:
    """Write ``workload``'s inputs for ``seed`` into the empty dir
    ``out`` and return the planted facts the output checks use."""
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    if workload == "etl_star":
        planted = etl_inputs(rng, out)
    else:
        tables = llm_tables(rng)
        for name, table in tables.items():
            _write_parquet(table, os.path.join(out, f"{name}.parquet"))
        planted = {}
    planted["input_bytes"] = sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(out) for f in fs
    )
    with open(os.path.join(out, "planted.json"), "w") as f:
        json.dump(planted, f)
    return planted


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["llm_dedup", "etl_star"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    generate(a.workload, a.seed, a.out)


if __name__ == "__main__":
    main()

"""Seeded input generator for the benchmark.

Everything the program reads during a run is written here from ``--seed``;
the same seed gives byte-identical inputs. Schemas, row counts, value
ranges and distributions follow the repo's sf0.1 fixture (FIXTURES.md,
TESTDATA.md); the figures quoted below were measured on that fixture:

- ``facts/``: the TPC-H-ish star schema plus ``events``, ``documents`` and
  ``embeddings`` in the catalog's ``{dir}/{table}.parquet`` layout, so the
  catalog queries and their DuckDB oracles read it unchanged;
- ``kofic/day_NN.json``: KOFIC-shaped daily box-office documents, one per
  simulated day, whose ten entries are drawn from the ``orders`` rows;
- ``curation/``: the ``documents`` table split into a base corpus, daily
  batches and stream arrival files.

Run standalone to inspect the inputs:
    python3 perfbench/gen.py --seed 1 --out /path/to/dir
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SIZES = {
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
P_ADJ = ["red", "blue", "large", "small", "hot", "new", "old", "green"]
P_NOUN = ["ring", "bolt", "gizmo", "anvil", "plate", "widget", "gear", "nut"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
# Fixture: en 41.2%, zh 15.1%, es 14.9%, fr 14.8%, de 14.0% of documents.
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.412, 0.151, 0.149, 0.148, 0.140]
# Fixture: lines per order 1..17, mean 4.08, variance 3.77; counts per
# line count over its 150000 orders.
LINES_PER_ORDER = [
    11016, 21814, 29500, 29097, 23631, 15625, 8941, 4407, 1959, 818, 292,
    93, 29, 10, 1, 2, 1,
]
# Fixture: 5% of documents (250 of 5000) are another document with " dup"
# appended; two of them copying one original give its few exact
# duplicates (8 pairs).
NEAR_DUP = 0.05
# Fixture: the 30 words below, each ~9000 times, 10-100 words per document
# (uniform, mean 54).
VOCAB = (
    "a the row key part data scan sort hash join agg filter group query "
    "value line table order stream batch window merge column vector spark "
    "fast slow big small customer"
).split()
MOVIE_POOL = 40  # distinct movie codes the daily charts draw from
CHART_LEN = 10


def _ts(days: np.ndarray, base: dt.date) -> pa.Array:
    """Whole days since ``base`` as TIMESTAMP[us] (the fixture's type)."""
    epoch = (base - dt.date(1970, 1, 1)).days
    micros = (days.astype(np.int64) + epoch) * 86_400_000_000
    return pa.array(micros, pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int):
    return np.round(rng.uniform(lo, hi, n), 2)


def facts(rng: np.random.Generator) -> dict[str, pa.Table]:
    """The star schema, ``events`` and ``embeddings`` (``documents`` is
    built by :func:`documents` so curation can reuse it)."""
    n_c, n_s, n_p, n_o = (
        SIZES["customer"], SIZES["supplier"], SIZES["part"], SIZES["orders"]
    )
    out = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": REGIONS,
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_c), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_c)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_c), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_c),
            "c_mktsegment": pa.array(SEGMENTS)
            .take(rng.integers(0, 5, n_c)),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_s), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_s)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_s), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_s),
        }),
    }
    adj = rng.integers(0, len(P_ADJ), n_p)
    noun = rng.integers(0, len(P_NOUN), n_p)
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_p), pa.int64()),
        "p_name": [f"{P_ADJ[a]} {P_NOUN[b]}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_p)],
        "p_type": pa.array(P_TYPES).take(rng.integers(0, 6, n_p)),
        "p_size": pa.array(rng.integers(1, 51, n_p), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_p) % 1000) / 10, 2),
    })
    order_day = rng.integers(0, 2405, n_o)  # 1995-01-01 .. 2001-08-01
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_o), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_c, n_o), pa.int64()),
        "o_orderstatus": pa.array(["F", "O", "P"]).take(
            rng.integers(0, 3, n_o)
        ),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_o),
        "o_orderdate": _ts(order_day, dt.date(1995, 1, 1)),
        "o_orderpriority": pa.array(PRIORITIES).take(
            rng.integers(0, 5, n_o)
        ),
    })
    p = np.array(LINES_PER_ORDER, dtype=np.float64)
    lines = rng.choice(np.arange(1, len(p) + 1), n_o, p=p / p.sum())
    okey = np.repeat(np.arange(n_o), lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    n_l = len(okey)
    qty = rng.integers(1, 51, n_l).astype(np.float64)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_p, n_l), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_s, n_l), pa.int64()),
        "l_linenumber": pa.array(np.arange(n_l) - starts + 1, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_l),
        "l_discount": rng.integers(0, 11, n_l) / 100,
        "l_tax": rng.integers(0, 9, n_l) / 100,
        "l_returnflag": pa.array(["A", "N", "R"]).take(
            rng.integers(0, 3, n_l)
        ),
        "l_linestatus": pa.array(["F", "O"]).take(rng.integers(0, 2, n_l)),
        # Fixture: ship dates 1995-01-02 .. 2001-11-04, not tied to the
        # order's date.
        "l_shipdate": _ts(rng.integers(1, 2500, n_l), dt.date(1995, 1, 1)),
    })
    n_e = SIZES["events"]
    secs = np.sort(rng.integers(0, 30 * 86_400_000_000, n_e))
    base_us = (dt.date(2024, 1, 1) - dt.date(1970, 1, 1)).days * 86_400_000_000
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_e), pa.int64()),
        "ts": pa.array(secs + base_us, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1500, n_e), pa.int64()),
        "event_type": pa.array(EVENT_TYPES).take(rng.integers(0, 5, n_e)),
        "value": _money(rng, 0.0, 560.0, n_e),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_e)],
    })
    n_v = SIZES["embeddings"]
    vec = rng.standard_normal((n_v, 64))
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_v), pa.int64()),
        "embedding": pa.array(
            list(vec.astype(np.float32)), pa.list_(pa.float32())
        ),
        "label": pa.array(rng.integers(0, 10, n_v), pa.int32()),
    })
    return out


def documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Bag-of-words documents like the fixture's: 10-100 words from its
    30-word vocabulary, and a NEAR_DUP share of them copying another
    document with " dup" appended, so exact and near-dup dedup both have
    the fixture's amount of work."""
    k = rng.integers(10, 101, n)
    texts = [" ".join(rng.choice(VOCAB, int(m))) for m in k]
    dups = rng.choice(n, int(n * NEAR_DUP), replace=False)
    is_dup = np.zeros(n, dtype=bool)
    is_dup[dups] = True
    originals = np.flatnonzero(~is_dup)
    for i, o in zip(dups, rng.choice(originals, len(dups))):
        texts[i] = texts[o] + " dup"
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": pa.array(LANGS).take(
            rng.choice(len(LANGS), n, p=LANG_P)
        ),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def kofic_days(
    rng: np.random.Generator, orders: pa.Table, n_days: int,
    first: dt.date = dt.date(2025, 1, 1),
) -> list[str]:
    """One KOFIC daily box-office document per day (all values strings, as
    the API sends them). Each day's chart takes ten distinct movies; the
    sales and audience figures come from sampled ``orders`` rows, and the
    cumulative columns are running sums per movie across the days."""
    price = orders["o_totalprice"].to_numpy()
    acc_sales: dict[int, int] = {}
    acc_audi: dict[int, int] = {}
    docs = []
    for d in range(n_days):
        day = first + dt.timedelta(days=d)
        codes = rng.choice(MOVIE_POOL, CHART_LEN, replace=False) + 20250000
        sales = np.sort(
            price[rng.integers(0, len(price), CHART_LEN)].astype(np.int64)
            * 100
        )[::-1]
        total = int(sales.sum())
        chart = []
        for rank, (code, amt) in enumerate(zip(codes, sales), start=1):
            code, amt = int(code), int(amt)
            audi = amt // 12_000 + 1
            new = code not in acc_sales
            acc_sales[code] = acc_sales.get(code, 0) + amt
            acc_audi[code] = acc_audi.get(code, 0) + audi
            chart.append({
                "rnum": str(rank), "rank": str(rank), "rankInten": "0",
                "rankOldAndNew": "NEW" if new else "OLD",
                "movieCd": str(code), "movieNm": f"Movie {code}",
                "openDt": (day - dt.timedelta(days=code % 30)).isoformat(),
                "salesAmt": str(amt),
                "salesShare": f"{100 * amt / total:.1f}",
                "salesInten": "0", "salesChange": "0.0",
                "salesAcc": str(acc_sales[code]),
                "audiCnt": str(audi), "audiInten": "0", "audiChange": "0.0",
                "audiAcc": str(acc_audi[code]),
                "scrnCnt": str(audi // 50 + 1),
                "showCnt": str(audi // 10 + 1),
            })
        ymd = day.strftime("%Y%m%d")
        docs.append(json.dumps({"boxOfficeResult": {
            "boxofficeType": "일별 박스오피스",
            "showRange": f"{ymd}~{ymd}",
            "dailyBoxOfficeList": chart,
        }}, ensure_ascii=False))
    return docs


def split_documents(
    docs: pa.Table, n_batches: int, n_arrivals: int
) -> dict[str, pa.Table]:
    """Half the documents seed the corpus; the next ones are dealt, in
    doc_id order, into daily batches and then arrival files of a sixth of
    the documents each. A near duplicate's original may fall in any slice,
    as in the fixture, where half of them copy a later document."""
    cols = docs.select(["doc_id", "lang", "n_chars", "text"])
    base = cols.num_rows // 2
    per = cols.num_rows // 6
    if base + (n_batches + n_arrivals) * per > cols.num_rows:
        raise ValueError("more batches and arrivals than documents")
    out = {"base": cols.slice(0, base)}
    for i in range(n_batches + n_arrivals):
        name = f"day{i + 1}" if i < n_batches else f"arr{i - n_batches}"
        out[name] = cols.slice(base + i * per, per)
    return out


def generate(
    seed: int, out_dir: str, n_days: int, n_batches: int, n_arrivals: int,
    parts: tuple[str, ...] = ("facts", "kofic", "curation"),
) -> dict:
    """Write the requested inputs under ``out_dir``; returns [rows, bytes]
    per input file. Each part draws from its own seeded stream, so a part's
    content does not depend on which other parts are generated."""
    stats = {}

    def put(rel: str, t: pa.Table) -> None:
        path = os.path.join(out_dir, f"{rel}.parquet")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        pq.write_table(t, path)
        stats[rel] = [t.num_rows, os.path.getsize(path)]

    docs = documents(np.random.default_rng([seed, 1]), SIZES["documents"])
    orders = None
    if "facts" in parts or "kofic" in parts:
        tables = facts(np.random.default_rng([seed, 0]))
        orders = tables["orders"]
        if "facts" in parts:
            tables["documents"] = docs
            for name, t in tables.items():
                put(f"facts/{name}", t)
    if "kofic" in parts:
        kdir = os.path.join(out_dir, "kofic")
        os.makedirs(kdir, exist_ok=True)
        rng = np.random.default_rng([seed, 2])
        for i, doc in enumerate(kofic_days(rng, orders, n_days)):
            path = os.path.join(kdir, f"day_{i:02d}.json")
            with open(path, "w") as f:
                f.write(doc)
            stats[f"kofic/day_{i:02d}"] = [CHART_LEN, os.path.getsize(path)]
    if "curation" in parts:
        for name, t in split_documents(docs, n_batches, n_arrivals).items():
            sub = "arrivals/" if name.startswith("arr") else ""
            put(f"curation/{sub}{name}", t)
    return stats


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args(argv)
    print(json.dumps(generate(a.seed, a.out, n_days=1, n_batches=1,
                              n_arrivals=1)))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

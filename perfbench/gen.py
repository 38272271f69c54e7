"""Seeded input generators for the benchmark.

Every generator takes a ``numpy.random.Generator`` built from the run's
``--seed`` and writes only under the directory it is given, so the same
seed always yields byte-identical inputs. The shapes mirror the
fixtures the engine's catalog is written against (FIXTURES.md): a
TPC-H-like star schema plus events, documents and embeddings, and the
two NYT COVID CSV layouts the reference ingests.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
SEGMENTS = ("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("signup", "purchase", "view", "click", "error")
EMB_DIM = 64


def write_parquet(table: dict, path: str) -> int:
    """Write column lists as one parquet file; returns its size."""
    pq.write_table(pa.table(table), path)
    return os.path.getsize(path)


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.integers(int(lo * 100), int(hi * 100), n) / 100.0, 2)


def _ts_us(start: dt.datetime, span_days: int, rng, n: int, *, whole_days: bool):
    base = np.datetime64(start, "us")
    if whole_days:
        off = rng.integers(0, span_days, n).astype("timedelta64[D]")
    else:
        off = rng.integers(0, span_days * 86_400_000_000, n).astype("timedelta64[us]")
    return (base + off).astype("datetime64[us]")


def doc_texts(rng: np.random.Generator, n: int) -> list[str]:
    """``n`` random 10-100 word documents over the fixture vocabulary."""
    lens = rng.integers(10, 101, n)
    words = rng.integers(0, len(VOCAB), int(lens.sum()))
    out, pos = [], 0
    for k in lens:
        out.append(" ".join(VOCAB[w] for w in words[pos : pos + k]))
        pos += k
    return out


def documents(rng: np.random.Generator, n: int, start_id: int = 0) -> dict:
    """Documents with the fixture's planted near-duplicates: 5% of docs
    are another doc's text plus a trailing ``dup`` token."""
    texts = doc_texts(rng, n)
    for i in rng.choice(n, n // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    ids = np.arange(start_id, start_id + n, dtype=np.int64)
    return {
        "doc_id": ids,
        "text": texts,
        "lang": [LANGS[i] for i in rng.choice(len(LANGS), n, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def unit_vectors(rng: np.random.Generator, n: int) -> np.ndarray:
    v = rng.standard_normal((n, EMB_DIM))
    return (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)


def embeddings(rng: np.random.Generator, n: int, start_id: int = 0) -> dict:
    return {
        "vec_id": np.arange(start_id, start_id + n, dtype=np.int64),
        "embedding": list(unit_vectors(rng, n)),
        "label": rng.integers(0, 10, n).astype(np.int32),
    }


def star_schema(rng: np.random.Generator, out_dir: str, sf: float) -> dict:
    """The star schema, events, documents and embeddings at scale factor
    ``sf`` (sf 0.1 is 600k lineitem rows). Returns rows and bytes per
    table."""
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_users = max(15, int(15_000 * sf))
    t: dict[str, dict] = {
        "region": {
            "r_regionkey": np.arange(5, dtype=np.int32),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        },
        "nation": {
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        },
        "customer": {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)],
        },
        "supplier": {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        },
        "part": {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [f"{VOCAB[a]} {VOCAB[b]}" for a, b in rng.integers(0, len(VOCAB), (n_part, 2))],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": [("LARGE", "ECONOMY", "SMALL", "STANDARD", "PROMO")[i] for i in rng.integers(0, 5, n_part)],
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10.0, 2),
        },
        "orders": {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": [("O", "F", "P")[i] for i in rng.integers(0, 3, n_ord)],
            "o_totalprice": _money(rng, 1000, 500_000, n_ord),
            "o_orderdate": _ts_us(dt.datetime(1995, 1, 1), 2404, rng, n_ord, whole_days=True),
            "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)],
        },
        "lineitem": {
            "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
            "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900, 105_000, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": [("N", "R", "A")[i] for i in rng.integers(0, 3, n_line)],
            "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_line)],
            "l_shipdate": _ts_us(dt.datetime(1995, 1, 2), 2499, rng, n_line, whole_days=True),
        },
        "events": {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": np.sort(_ts_us(dt.datetime(2024, 1, 1), 30, rng, n_ev, whole_days=False)),
            "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
            "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_ev)],
            "value": _money(rng, 0, 200, n_ev),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        },
        "documents": documents(rng, max(500, int(50_000 * sf))),
        "embeddings": embeddings(rng, max(500, int(20_000 * sf))),
    }
    return {
        name: {"rows": len(next(iter(cols.values()))), "bytes": write_parquet(cols, f"{out_dir}/{name}.parquet")}
        for name, cols in t.items()
    }


# --------------------------------------------------------------------------
# NYT COVID CSVs
# --------------------------------------------------------------------------


class NytFeed:
    """A seeded NYT-shaped feed that grows a day at a time.

    ``us-states.csv`` and ``us-counties.csv`` are rewritten in full on
    every ``grow``, as the NYT publishes them. Values are cumulative per
    key; about 2% of fips are blank and every state has an ``Unknown``
    county with blank fips; about 1% of each day's keys are repeated
    later in the file with different values (the first row wins); and
    each new day revises a few historical rows (the table keeps the
    first-seen values). ``expected`` tracks, per table, what a first-write-wins
    ingest must hold: key -> (cases, deaths), with blank fips keyed as
    -1.
    """

    START = dt.date(2020, 3, 1)

    def __init__(self, rng: np.random.Generator, out_dir: str, n_states: int, counties_per_state: int):
        self.rng = rng
        self.dir = out_dir
        os.makedirs(out_dir, exist_ok=True)
        self.states = [(f"State{i:02d}", "" if rng.random() < 0.02 else f"{i + 1:02d}") for i in range(n_states)]
        self.counties = []
        for s, (name, sf) in enumerate(self.states):
            for c in range(counties_per_state):
                blank = sf == "" or rng.random() < 0.02
                self.counties.append((f"County{c:03d}", name, "" if blank else f"{s + 1:02d}{c + 1:03d}"))
            self.counties.append(("Unknown", name, ""))
        self.lines = {"states": [], "counties": []}
        self.totals = {
            "states": np.zeros((len(self.states), 2), dtype=np.int64),
            "counties": np.zeros((len(self.counties), 2), dtype=np.int64),
        }
        self.expected: dict[str, dict[tuple, tuple[int, int]]] = {"states": {}, "counties": {}}
        self.days = 0

    def paths(self) -> dict[str, str]:
        return {t: os.path.join(self.dir, f"us-{t}.csv") for t in ("states", "counties")}

    def _day_lines(self, table: str, day: dt.date) -> list[str]:
        keys = self.states if table == "states" else self.counties
        tot = self.totals[table]
        new_cases = self.rng.poisson(20, len(keys))
        tot[:, 0] += new_cases
        tot[:, 1] += self.rng.binomial(new_cases, 0.02)
        lines = [",".join((day.isoformat(), *k, str(tot[i, 0]), str(tot[i, 1]))) for i, k in enumerate(keys)]
        for i in self.rng.choice(len(keys), max(1, len(keys) // 100), replace=False):
            parts = lines[i].split(",")
            parts[-2] = str(int(parts[-2]) + 1 + int(self.rng.integers(0, 5)))
            lines.append(",".join(parts))
        return lines

    def _revise(self, table: str) -> None:
        lines = self.lines[table]
        for i in self.rng.choice(len(lines), min(len(lines), 3), replace=False):
            parts = lines[i].split(",")
            parts[-2] = str(int(parts[-2]) + int(self.rng.integers(1, 50)))
            lines[i] = ",".join(parts)

    def grow(self, days: int = 1) -> dict[str, int]:
        """Append ``days`` days to both files, rewrite them, and replay
        the new file versions into ``expected`` the way a first-write-wins
        ingest of them would. Returns the row count of each file."""
        header = {"states": "date,state,fips,cases,deaths", "counties": "date,county,state,fips,cases,deaths"}
        for _ in range(days):
            day = self.START + dt.timedelta(days=self.days)
            for table in self.lines:
                if self.days:
                    self._revise(table)
                self.lines[table].extend(self._day_lines(table, day))
            self.days += 1
        rows_out = {}
        for table, path in self.paths().items():
            exp = self.expected[table]
            for line in self.lines[table]:
                parts = line.split(",")
                fips = parts[-3]
                key = (parts[0], *parts[1:-3], int(fips) if fips else -1)
                if key not in exp:
                    exp[key] = (int(parts[-2]), int(parts[-1]))
            with open(path, "w") as f:
                f.write(header[table] + "\n")
                f.write("\n".join(self.lines[table]))
                f.write("\n")
            rows_out[table] = len(self.lines[table])
        return rows_out

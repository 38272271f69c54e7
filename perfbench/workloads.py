"""The benchmark's workloads, their output checks and metric summary.

Each workload generates its inputs from the run's seed, builds what the
engine needs before the first op (base tables and indexes), runs a
warm-up pass, then runs whole cycles of its op mix in a closed loop.
The number of cycles is the run's seconds over the workload's nominal
cycle wall on a 4-core host, a constant: it never depends on how fast
the ops run, so two runs given the same seconds time the same ops. An
op is a sequence of calls into the
engine's public functions; the workload checks each op's output after
the op's timer stops, against answers the generators know or a DuckDB
oracle on the same files.

Why these workloads (every layer a later change may target is exercised
by one of them and bypassed by another):

- ``star_query_mix``: read-only catalog queries through the relational,
  windows, sessionize and functions layers. Driver plan construction is
  a large share of each query, and nothing is written, so ingest and
  dedup changes must read flat here.
- ``covid_refresh``: the reference's own job. Each op re-reads both
  NYT files, grown by one day, through sources and ingest into
  date-partitioned tables and reads them back: the only workload that
  writes tables.
- ``doc_curation``: arriving batches whose documents and vectors are
  admitted against growing MinHash and IVF indexes, index maintenance
  every two batches, and one pass of corpus resolution (MinHash pairs
  plus connected components) and of BPE packing over a seeded 2x
  token-suffix replica per cycle: the dedup, text, similarity and graph
  layers and the Python workers.
"""

from __future__ import annotations

import datetime as _dt
import decimal
import hashlib
import math
import os
import re
import shutil
import sys
import time
import traceback
from collections import Counter
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from typing import Callable

import duckdb
import numpy as np
import pandas as pd

import gen
import spans
from spans import layer_of

from nytimes_batch_processor_spark import catalog, ingest, sources
from nytimes_batch_processor_spark.operators import dedup, graph, similarity, text

END_TO_END_UNITS = {
    "setup_s": "s",
    "op_p50_s": "s",
    "op_tail_s": "s",
    "input_rows_per_s": "rows/s",
    "cpu_s_per_op": "s",
    "driver_peak_rss_mb": "MiB",
}

_CALL_METRICS = {
    "calls": "count", "build_s": "s", "exec_s": "s", "jobs": "count",
    "stages": "count", "tasks": "count", "failed_tasks": "count",
    "driver_cpu_s": "s", "jvm_cpu_s": "s", "pyworker_cpu_s": "s",
}
_JVM_ONLY = ("calls", "build_s", "exec_s", "jobs", "stages", "tasks",
             "failed_tasks", "driver_cpu_s", "jvm_cpu_s")
_WRITES = {"bytes_written": "bytes", "files_written": "count"}


def _layer_units() -> dict[str, str]:
    """Every per-layer metric a workload can move. Layers whose calls
    start no Python workers drop ``pyworker_cpu_s`` (the only
    ``functions`` call, in ``fn_json_surface``, starts none); ``exec_s`` is
    dropped where a layer's calls are eager and return no DataFrame."""
    plan = {
        "sources": _JVM_ONLY,
        "ingest": tuple(m for m in _JVM_ONLY if m != "exec_s"),
        "functions": _JVM_ONLY,
        "operators.relational": _JVM_ONLY,
        "operators.windows": _JVM_ONLY,
        "operators.sessionize": _JVM_ONLY,
        "operators.dedup": tuple(m for m in _JVM_ONLY if m != "exec_s"),
        "operators.text": tuple(_CALL_METRICS),
        "operators.similarity": _JVM_ONLY,
        "operators.graph": _JVM_ONLY,
    }
    out = {"session.build_s": "s", "session.jvm_peak_rss_mb": "MiB"}
    for layer, names in plan.items():
        out.update({f"{layer}.{m}": _CALL_METRICS[m] for m in names})
    for layer in ("tables", "operators.dedup", "operators.similarity"):
        out.update({f"{layer}.{m}": u for m, u in _WRITES.items()})
    out.update({
        "tables.calls": "count",
        "tables.build_s": "s",
        "tables.rows_per_file": "rows/file",
        "ingest.insert_ratio": "ratio",
        "stored_bytes_per_input_byte": "ratio",
    })
    return out


LAYER_UNITS = _layer_units()


# --------------------------------------------------------------------------
# closed loop
# --------------------------------------------------------------------------


@dataclass
class Op:
    """One op of a cycle. ``body`` runs the engine calls (timed);
    ``prepare`` builds its inputs and ``check`` verifies its value (both
    untimed). ``check`` returns the rows the op consumed, or ``None`` to
    use ``rows``."""

    kind: str
    body: Callable[[], object]
    rows: int = 0
    check: Callable[[object], int | None] | None = None
    prepare: Callable[[], None] | None = None


@dataclass
class OpRecord:
    kind: str
    span_id: int
    wall: float
    rows: int
    ok: bool
    cpu: float
    driver_rss: float


@dataclass
class Result:
    ops: list[OpRecord]
    setup_s: float
    inputs: dict
    notes: dict = field(default_factory=dict)
    written: dict = field(default_factory=Counter)  # per-layer write metrics

    def walls(self) -> dict[str, list[float]]:
        """Op walls by op kind, in run order."""
        out: dict[str, list[float]] = {}
        for o in self.ops:
            out.setdefault(o.kind, []).append(o.wall)
        return out

    def add_written(self, layer: str, before: dict[str, int], *paths: str) -> None:
        """Count the data files under ``paths`` that are not in ``before``."""
        new = {f: n for f, n in data_files(*paths).items() if f not in before}
        self.written[f"{layer}.files_written"] += len(new)
        self.written[f"{layer}.bytes_written"] += sum(new.values())


class Context:
    def __init__(self, spark, tracer, rng, root, seconds, process_start, session_s=0.0):
        self.spark = spark
        self.tr = tracer
        self.rng = rng
        self.root = root
        self.seconds = seconds
        self.process_start = process_start
        self.session_s = session_s
        self.pid = os.getpid()
        self.jvm = spans.jvm_pid(self.pid)

    def log(self, msg: str) -> None:
        print(f"perfbench: {time.perf_counter() - self.process_start:7.2f}s {msg}", file=sys.stderr, flush=True)

    def path(self, *parts: str) -> str:
        """A fresh directory under the run's temp root."""
        p = os.path.join(self.root, "work", *parts)
        os.makedirs(p, exist_ok=True)
        return p

    def call(self, layer: str, fn, *args, phase: str = "build", name: str | None = None, **kw):
        return self.tr.call(layer, name or fn.__name__, phase, fn, *args, **kw)

    def run_op(self, op: Op) -> OpRecord:
        if op.prepare is not None:
            op.prepare()
        cpu0 = sum(spans.tree_cpu(self.pid).values())
        value, ok = None, True
        with self.tr.op(op.kind) as span:
            try:
                value = op.body()
            except Exception:  # noqa: BLE001 - a failed op is counted, not fatal
                ok = False
                traceback.print_exc(file=sys.stderr)
        wall = span.end - span.start
        cpu = sum(spans.tree_cpu(self.pid).values()) - cpu0
        rows = op.rows
        if ok and op.check is not None:
            try:
                got = op.check(value)
                rows = rows if got is None else got
            except Exception:  # noqa: BLE001 - a failed check is a failed op
                ok = False
                print(f"perfbench: check failed for op {op.kind}", file=sys.stderr)
                traceback.print_exc(file=sys.stderr)
        return OpRecord(op.kind, span.id, wall, rows, ok, cpu, spans.rss_mb(self.pid))

    def untimed(self, ops: list[Op]) -> None:
        """Run and check ops outside the measurement (base loads, warm-up)."""
        for op in ops:
            if op.prepare is not None:
                op.prepare()
            value = op.body()
            if op.check is not None:
                op.check(value)

    def cycles(self, cycle_s: float) -> int:
        """Cycles a run measures: ``seconds`` over the nominal wall of one
        cycle, at least one."""
        return max(1, round(self.seconds / cycle_s))

    def loop(self, cycle: Callable[[int], list[Op]], cycle_s: float) -> tuple[list[OpRecord], float]:
        """``cycles(cycle_s)`` whole cycles; returns the op records and the
        setup time (process start to the first op)."""
        setup_s = time.perf_counter() - self.process_start
        self.log("setup done; timed loop starts")
        records = []
        for i in range(self.cycles(cycle_s)):
            records.extend(self.run_op(op) for op in cycle(i))
        self.log(f"timed loop done: {len(records)} ops")
        return records, setup_s

    def summarize(self, res: Result) -> tuple[dict, dict]:
        walls = [o.wall for o in res.ops]
        tail_v, tail_p = spans.tail(walls)
        e2e = {
            "setup_s": res.setup_s,
            "op_p50_s": spans.median(walls),
            "op_tail_s": tail_v,
            "op_tail_percentile": tail_p,
            "input_rows_per_s": sum(o.rows for o in res.ops) / sum(walls),
            "cpu_s_per_op": sum(o.cpu for o in res.ops) / len(res.ops),
            "driver_peak_rss_mb": max(o.driver_rss for o in res.ops),
        }
        layer = {k: 0 for k in LAYER_UNITS}
        if self.tr.enabled:
            measured = self.tr.layer_metrics({o.span_id for o in res.ops})
            layer.update({k: v for k, v in measured.items() if k in layer})
        layer.update({k: v for k, v in res.written.items() if k in layer})
        layer["session.build_s"] = self.session_s
        layer["session.jvm_peak_rss_mb"] = spans.rss_mb(self.jvm, "VmHWM") if self.jvm else 0.0
        return e2e, layer


# --------------------------------------------------------------------------
# output digests (the order-insensitive hash of tests/test_oracle_parity.py)
# --------------------------------------------------------------------------


def _norm(v):
    if isinstance(v, bool):
        return v
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else v + 0.0
    if isinstance(v, (_dt.datetime, _dt.date)):
        return v.isoformat()
    if isinstance(v, decimal.Decimal):
        return float(v)
    return v


def digest(cols: list[str], rows: list[tuple]) -> tuple[int, str]:
    """(row count, hash) of a result, independent of row and column order."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    canon = sorted(repr(tuple(_norm(r[i]) for i in order)) for r in rows)
    h = hashlib.sha256("\n".join([",".join(sorted(cols)), *canon]).encode())
    return len(canon), h.hexdigest()


def spark_digest(df) -> tuple[int, str]:
    return digest(df.columns, [tuple(r) for r in df.collect()])


def oracle_digest(con, sql: str) -> tuple[int, str]:
    cur = con.execute(sql)
    return digest([d[0] for d in cur.description], cur.fetchall())


def oracle_answers(data_dir: str, tables, specs) -> dict[str, tuple[int, str]]:
    """Digest of each catalog entry's DuckDB oracle over ``data_dir``."""
    con = duckdb.connect()
    try:
        for t in tables:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
        return {s.name: oracle_digest(con, s.oracle) for s in specs}
    finally:
        con.close()


def dir_stats(path: str) -> tuple[int, int]:
    """(parquet data files, bytes on disk of all files) under ``path``."""
    files = size = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(dirpath, n))
            files += n.endswith(".parquet")
    return files, size


def data_files(*paths: str) -> dict[str, int]:
    """Parquet data file -> size, under the given directories."""
    out = {}
    for path in paths:
        for dirpath, _, names in os.walk(path):
            for n in names:
                if n.endswith(".parquet"):
                    f = os.path.join(dirpath, n)
                    out[f] = os.path.getsize(f)
    return out


def parquet_rows(con, path: str, hive: bool = False) -> int:
    if not os.path.isdir(path):
        return 0
    opt = ", hive_partitioning = true" if hive else ""
    return con.execute(f"SELECT count(*) FROM read_parquet('{path}/**/*.parquet'{opt})").fetchone()[0]


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


# --------------------------------------------------------------------------
# star_query_mix
# --------------------------------------------------------------------------

STAR_SF = 0.01
STAR_ROUNDS_PER_CYCLE = 2  # each round runs every query once, in seeded order
STAR_CYCLE_S = 13.0
STAR_QUERIES = (
    "agg_pricing_summary",
    "filter_project_revenue",
    "join_broadcast_star",
    "join_theta_range",
    "agg_distinct_counts",
    "window_rank_topk_per_group",
    "window_range_rolling_7d",
    "sessionize_gap_surface",
    "q3_shipping_priority",
    "fn_json_surface",
)


def star_query_mix(ctx: Context) -> Result:
    data = ctx.path("star")
    sizes = gen.star_schema(ctx.rng, data, STAR_SF)
    specs = catalog.all_specs()
    ctx.log("inputs generated")

    def op(name: str) -> Op:
        spec = specs[name]
        layer = layer_of(spec.fn.__module__)

        def body():
            df = ctx.call(layer, spec.fn, ctx.spark, data)
            ctx.call(layer, _noop, df, phase="exec", name=spec.fn.__name__)

        return Op(name, body, rows=sum(sizes[t]["rows"] for t in spec.tables))

    # warm-up: every query once, collected and checked against its DuckDB
    # oracle. Queries run on parallel threads: a cold query spends most of
    # its time in single-threaded driver planning and code generation.
    with ThreadPoolExecutor(os.cpu_count() or 4) as pool:
        got = dict(zip(STAR_QUERIES, pool.map(lambda q: spark_digest(specs[q].fn(ctx.spark, data)), STAR_QUERIES)))
    ctx.log("warm-up done")
    answers = oracle_answers(data, sizes, [specs[q] for q in STAR_QUERIES])
    ctx.log("oracle answers computed")
    bad = {q for q in STAR_QUERIES if got[q] != answers[q]}
    ops, setup_s = ctx.loop(lambda i: [
        op(STAR_QUERIES[j]) for _ in range(STAR_ROUNDS_PER_CYCLE) for j in ctx.rng.permutation(len(STAR_QUERIES))
    ], STAR_CYCLE_S)
    for o in ops:
        o.ok = o.ok and o.kind not in bad
    return Result(ops, setup_s, {"sf": STAR_SF, "tables": sizes}, notes={"oracle_mismatch": sorted(bad)})


# --------------------------------------------------------------------------
# covid_refresh
# --------------------------------------------------------------------------

NYT_STATES = 56
NYT_COUNTIES_PER_STATE = 10
# Over 32 date partitions from the first timed refresh on, so every timed
# refresh lists its table the same way (Spark discovers more than 32
# partition paths with a parallel listing job).
NYT_BASE_DAYS = 40
NYT_CYCLE_S = 4.0  # a cycle is one refresh (one day), its check included
NYT_KEYS = {"states": ["date", "state", "fips"], "counties": ["date", "county", "state", "fips"]}


def covid_refresh(ctx: Context) -> Result:
    feed = gen.NytFeed(ctx.rng, ctx.path("nyt", "csv"), NYT_STATES, NYT_COUNTIES_PER_STATE)
    tables = ctx.path("nyt", "tables")
    target = {t: os.path.join(tables, f"us_{t}.parquet") for t in NYT_KEYS}
    src = feed.paths()
    con = duckdb.connect()
    res = Result([], 0.0, {})
    totals = Counter()  # rows scanned and inserted by timed ops
    state = {"csv_rows": {}}

    def grow(days: int = 1) -> None:
        state["csv_rows"] = feed.grow(days)

    def op(prepare: Callable[[], None]) -> Op:
        """Both files grow by a day; each is re-read in full into its
        table, then the table is read back."""
        before = {}

        def prep():
            prepare()
            for t in NYT_KEYS:
                before[t] = (data_files(target[t]), parquet_rows(con, target[t], hive=True))

        def body():
            counts = {}
            for t in NYT_KEYS:
                ctx.call("ingest", ingest.ingest_covid_csv, ctx.spark, src[t], target[t], has_county=t == "counties")
                df = ctx.call("sources", sources.load_table, ctx.spark, tables, f"us_{t}")
                counts[t] = ctx.call("sources", df.count, phase="exec", name="load_table")
            return counts

        def check(counts) -> int:
            for t, keys in NYT_KEYS.items():
                rows = con.execute(
                    f"SELECT {', '.join(keys)}, cases, deaths FROM read_parquet("
                    f"'{target[t]}/**/*.parquet', hive_partitioning = true)"
                ).fetchall()
                got = {(str(r[0]), *r[1:-2]): (r[-2], r[-1]) for r in rows}
                assert counts[t] == len(rows), f"{t}: read back {counts[t]} rows, files hold {len(rows)}"
                assert len(got) == len(rows), f"{t}: a key is stored twice"
                assert all(k[-1] is not None for k in got), f"{t}: null fips stored"
                assert got == feed.expected[t], f"{t}: table differs from the first-write-wins replay"
                res.add_written("tables", before[t][0], target[t])
                totals["inserted"] += len(got) - before[t][1]
            scanned = sum(state["csv_rows"].values())
            totals["scanned"] += scanned
            return scanned

        return Op("refresh", body, check=check, prepare=prep)

    # base load: the history so far, ingested once before the warm-up op
    ctx.untimed([op(lambda: grow(NYT_BASE_DAYS - 1))])
    ctx.log("history loaded")
    ctx.untimed([op(grow)])
    res.written.clear()
    totals.clear()
    res.ops, res.setup_s = ctx.loop(lambda i: [op(grow)], NYT_CYCLE_S)

    files, size = dir_stats(tables)
    table_rows = sum(len(v) for v in feed.expected.values())
    csv_bytes = sum(os.path.getsize(p) for p in src.values())
    res.written["ingest.insert_ratio"] = totals["inserted"] / totals["scanned"]
    res.written["tables.rows_per_file"] = table_rows / files
    res.written["stored_bytes_per_input_byte"] = size / csv_bytes
    res.inputs = {
        "states": NYT_STATES,
        "counties": len(feed.counties),
        "days": feed.days,
        "csv_rows": state["csv_rows"],
        "csv_bytes": csv_bytes,
        "table_rows": table_rows,
        "table_files": files,
    }
    con.close()
    return res


# --------------------------------------------------------------------------
# doc_curation
# --------------------------------------------------------------------------

CUR_BASE_DOCS = 1000
CUR_BATCH = 50
CUR_WARMUP_BATCHES = 1
CUR_BATCHES_PER_CYCLE = 2
CUR_CYCLE_S = 13.0  # two batches, maintenance and a corpus pass, checks included
CUR_REPLICA_BASE = 300
CUR_ID0 = 1_000_000  # batch ids start here, clear of the base corpus
_REPLICA_STRIDE = 10_000_000  # id offset of the replica copy


def _quality_pass(t: str) -> bool:
    """The engine's heuristic quality filter, replayed in Python."""
    n = len(re.split(r"\s+", t.lower()))
    return n >= 5 and len(t) / n < 15


def _edit(rng, t: str) -> str:
    words = t.split()
    words[int(rng.integers(0, len(words)))] = gen.VOCAB[int(rng.integers(0, len(gen.VOCAB)))]
    return " ".join(words)


def doc_curation(ctx: Context) -> Result:
    rng = ctx.rng
    spark = ctx.spark
    d = ctx.path("cur")
    base_docs = gen.documents(rng, CUR_BASE_DOCS)
    base_vecs = gen.embeddings(rng, CUR_BASE_DOCS)
    gen.write_parquet(base_docs, f"{d}/documents.parquet")
    gen.write_parquet(base_vecs, f"{d}/embeddings.parquet")
    replica_dir = ctx.path("replica")
    rep = gen.documents(rng, CUR_REPLICA_BASE)
    # token-suffix bijection: the copy shares no shingle with the base
    copy_text = [re.sub(r"(\S+)", r"\1x1", t) for t in rep["text"]]
    gen.write_parquet({
        "doc_id": np.concatenate([rep["doc_id"], rep["doc_id"] + _REPLICA_STRIDE]),
        "text": rep["text"] + copy_text,
        "lang": rep["lang"] * 2,
        "source": rep["source"] * 2,
        "n_chars": np.array([len(t) for t in rep["text"] + copy_text], dtype=np.int64),
    }, f"{replica_dir}/documents.parquet")

    corpus_rows = 2 * CUR_REPLICA_BASE
    corpus_stages = (("operators.graph", graph.dedup_resolve_surface), ("operators.text", text.pack_sequences_bpe))
    # DuckDB answers for the corpus stages, computed while Spark builds
    # the base indexes (DuckDB releases the GIL)
    specs = catalog.all_specs()
    pool = ThreadPoolExecutor(1)
    answers = pool.submit(oracle_answers, replica_dir, ["documents"], [specs[fn.__name__] for _, fn in corpus_stages])
    pool.shutdown(wait=False)

    mh_idx, ivf_idx = f"{d}/minhash_index", f"{d}/ivf_index"
    mh_sink, ivf_sink = f"{d}/admitted_docs", f"{d}/admitted_vectors"
    ctx.log("inputs generated")
    with ThreadPoolExecutor(2) as index_pool:  # independent indexes
        for f in [
            index_pool.submit(dedup.build_minhash_index,
                            spark.read.parquet(f"{d}/documents.parquet").select("doc_id", "text"), mh_idx),
            index_pool.submit(similarity.build_ivf_parquet_index, spark.read.parquet(f"{d}/embeddings.parquet"), ivf_idx),
        ]:
            f.result()
    ctx.log("base indexes built")
    con = duckdb.connect()
    res = Result([], 0.0, {})
    admitted = {"docs": [], "vectors": []}
    batch_verdicts: dict[int, dict[str, dict]] = {}  # batch -> side -> id -> status
    distinct_bytes = [sum(len(t.encode()) for t in base_docs["text"]) + 4 * gen.EMB_DIM * CUR_BASE_DOCS]

    def make_batch(b: int) -> dict:
        """Batch ``b``: 60% fresh, 20% exact re-arrivals of base items
        under new ids, 20% near-duplicate edits of base items."""
        ids = np.arange(CUR_ID0 + b * CUR_BATCH, CUR_ID0 + (b + 1) * CUR_BATCH, dtype=np.int64)
        kind = rng.permutation(np.repeat([0, 1, 2], [CUR_BATCH - 2 * (CUR_BATCH // 5), CUR_BATCH // 5, CUR_BATCH // 5]))
        src = rng.integers(0, CUR_BASE_DOCS, CUR_BATCH)
        fresh_t = gen.doc_texts(rng, CUR_BATCH)
        fresh_v = gen.unit_vectors(rng, CUR_BATCH)
        texts, vecs = [], []
        for j in range(CUR_BATCH):
            bt, bv = base_docs["text"][src[j]], base_vecs["embedding"][src[j]]
            if kind[j] == 0:
                texts.append(fresh_t[j])
                vecs.append(fresh_v[j])
            elif kind[j] == 1:
                texts.append(bt)
                vecs.append(bv)
            else:
                texts.append(_edit(rng, bt))
                v = bv + rng.normal(0, 0.05, gen.EMB_DIM).astype(np.float32)
                vecs.append((v / np.linalg.norm(v)).astype(np.float32))
        distinct_bytes.append(sum(len(texts[j].encode()) + 4 * gen.EMB_DIM for j in range(CUR_BATCH) if kind[j] != 1))
        return {
            "ids": ids,
            "rearrived": set(ids[kind == 1].tolist()),
            "docs": spark.createDataFrame(pd.DataFrame({"doc_id": ids, "text": texts})),
            "vecs": spark.createDataFrame(
                pd.DataFrame({"vec_id": ids, "embedding": [v.tolist() for v in vecs]}),
                "vec_id long, embedding array<float>",
            ),
            "pass": {int(i) for i, t in zip(ids, texts) if _quality_pass(t)},
        }

    batches: dict[int, dict] = {}

    # the two indexes: MinHash over doc text, IVF over vectors
    sides = {
        "docs": {"layer": "operators.dedup", "idx": mh_idx, "sink": mh_sink, "key": "doc_id", "hive": False},
        "vectors": {"layer": "operators.similarity", "idx": ivf_idx, "sink": ivf_sink, "key": "vec_id", "hive": True},
    }

    # The first timed batch is admitted a second time after the loop,
    # against copies of the indexes and sinks as they stood before it.
    replay_b = CUR_WARMUP_BATCHES
    replay_dir = ctx.path("replay")
    replay = {kind: {"idx": f"{replay_dir}/{kind}_index", "sink": f"{replay_dir}/{kind}_sink"} for kind in sides}

    def snapshot(kind: str, *dirs: str) -> tuple[int, dict]:
        return parquet_rows(con, sides[kind]["idx"], sides[kind]["hive"]), data_files(*dirs)

    def admit(b: int, paths: dict) -> dict:
        """Batch ``b``'s docs through the curation pipeline against the
        MinHash index, its vectors through IVF admission; returns the
        two ledgers."""
        bt = batches[b]
        docs, vecs = paths["docs"], paths["vectors"]
        m = {}
        man = ctx.call("operators.text", text.curate_admission_pipeline, spark, docs["idx"],
                       bt["docs"], metrics_out=m, admitted_path=docs["sink"], batch_id=b)
        ctx.call("operators.text", _noop, man, phase="exec", name="curate_admission_pipeline")
        led = ctx.call("operators.similarity", similarity.admit_ivf_batch, spark, vecs["idx"],
                       bt["vecs"], admitted_path=vecs["sink"], batch_id=b)
        ctx.call("operators.similarity", led.count, phase="exec", name="admit_ivf_batch")
        return {"docs": m["ledger"], "vectors": led}

    def admission(b: int, record: bool) -> Op:
        """Batch ``b`` admitted into the workload's indexes and sinks."""
        before = {}

        def prepare():
            if b not in batches:
                batches[b] = make_batch(b)
            for kind, sd in sides.items():
                before[kind] = snapshot(kind, sd["idx"], sd["sink"])
                for d_ in ("idx", "sink"):
                    if b == replay_b and os.path.isdir(sd[d_]):
                        shutil.copytree(sd[d_], replay[kind][d_])

        def body():
            return admit(b, sides)

        def check(ledgers) -> int:
            bt = batches[b]
            verdicts = 0
            for kind, sd in sides.items():
                led = ledgers[kind]
                rows = [tuple(r) for r in led.select(sd["key"], "status").collect()]
                ids = [r[0] for r in rows]
                want = bt["pass"] if kind == "docs" else set(bt["ids"].tolist())
                assert len(ids) == len(set(ids)) and set(ids) == want, f"{kind} batch {b}: {len(ids)} verdicts for {len(want)}"
                status = dict(rows)
                batch_verdicts.setdefault(b, {})[kind] = status
                missed = [i for i in bt["rearrived"] if i in status and status[i] != "dup"]
                assert not missed, f"{kind} batch {b}: exact re-arrivals admitted: {missed[:5]}"
                new = sorted(i for i, st in rows if st == "admitted")
                grown = snapshot(kind)[0] - before[kind][0]
                assert grown == len(new), f"{kind} batch {b}: index grew {grown} for {len(new)} admitted"
                if os.path.isdir(sd["sink"]):
                    dups = con.execute(
                        f"SELECT count(*) - count(DISTINCT {sd['key']}) FROM read_parquet('{sd['sink']}/**/*.parquet')"
                    ).fetchone()[0]
                    assert dups == 0, f"{kind} sink holds {dups} duplicate ids"
                res.add_written(sd["layer"], before[kind][1], sd["idx"], sd["sink"])
                if record:
                    admitted[kind].extend(new)
                verdicts += len(ids)
            return verdicts

        return Op("admit_batch", body, check=check, prepare=prepare)

    def maintenance() -> Op:
        """Compact the MinHash index and maintain the IVF index; neither
        may change what the index holds."""
        before = {}
        calls = (("docs", dedup.compact_minhash_index), ("vectors", similarity.maintain_ivf_index))

        def prepare():
            for kind, sd in sides.items():
                before[kind] = snapshot(kind, sd["idx"])

        def body():
            for kind, fn in calls:
                ctx.call(sides[kind]["layer"], fn, spark, sides[kind]["idx"])

        def check(_):
            for kind, sd in sides.items():
                after = snapshot(kind)[0]
                assert after == before[kind][0], f"{kind} maintenance changed the index: {before[kind][0]} -> {after}"
                res.add_written(sd["layer"], before[kind][1], sd["idx"])

        return Op("maintain_indexes", body, check=check, prepare=prepare)

    answers = answers.result()
    ctx.log("oracle answers computed")

    def corpus() -> Op:
        """One pass over the replica: every corpus stage, each checked
        against its DuckDB oracle."""

        def body():
            out = {}
            for layer, fn in corpus_stages:
                df = ctx.call(layer, fn, spark, replica_dir)
                rows = ctx.call(layer, df.collect, phase="exec", name=fn.__name__)
                out[fn.__name__] = (df.columns, [tuple(r) for r in rows])
            return out

        def check(out):
            for name, result in out.items():
                assert digest(*result) == answers[name], f"{name}: differs from its DuckDB oracle"

        return Op("corpus_pass", body, rows=corpus_rows * len(corpus_stages), check=check)

    def cycle(i: int) -> list[Op]:
        first = CUR_WARMUP_BATCHES + CUR_BATCHES_PER_CYCLE * i
        return [
            *(admission(b, True) for b in range(first, first + CUR_BATCHES_PER_CYCLE)),
            maintenance(),
            corpus(),
        ]

    ctx.untimed([admission(b, False) for b in range(CUR_WARMUP_BATCHES)])
    res.written.clear()
    res.ops, res.setup_s = ctx.loop(cycle, CUR_CYCLE_S)

    # same seed, same admitted set: the replayed batch must get the
    # verdicts it got in the loop; if not, its op fails
    try:
        ledgers = admit(replay_b, replay)
        same = all(
            dict(tuple(r) for r in ledgers[kind].select(sd["key"], "status").collect()) == batch_verdicts[replay_b][kind]
            for kind, sd in sides.items()
        )
    except Exception:  # noqa: BLE001 - a failed replay fails the batch's op
        traceback.print_exc(file=sys.stderr)
        same = False
    ctx.log("first timed batch replayed")
    if not same:
        print(f"perfbench: check failed: batch {replay_b} admitted again got other verdicts", file=sys.stderr)
        res.ops[0].ok = False

    stored = sum(dir_stats(p)[1] for p in (mh_idx, ivf_idx, mh_sink, ivf_sink))
    res.written["stored_bytes_per_input_byte"] = stored / sum(distinct_bytes)
    res.inputs = {
        "base_docs": CUR_BASE_DOCS,
        "base_vectors": CUR_BASE_DOCS,
        "batch_size": CUR_BATCH,
        "batches": len(batches),
        "replica_docs": corpus_rows,
        "replica_factor": 2,
    }
    res.notes = {
        "replayed_batch_same_verdicts": same,
        "admitted_docs_digest": hashlib.sha256(repr(sorted(admitted["docs"])).encode()).hexdigest()[:16],
        "admitted_vectors_digest": hashlib.sha256(repr(sorted(admitted["vectors"])).encode()).hexdigest()[:16],
    }
    con.close()
    return res


WORKLOADS = {
    "star_query_mix": star_query_mix,
    "covid_refresh": covid_refresh,
    "doc_curation": doc_curation,
}

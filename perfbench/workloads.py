"""The benchmark's workloads. Each drives the engine only through its
public functions, from one process, on the inputs ``perfbench.inputs``
writes from the seed, and returns its end-to-end metrics, its per-layer
metrics (filled only when tracing) and the count of operations attempted
and failed, correctness checks included.

Timings use ``time.perf_counter``; correctness checks and trace
collection run outside the timed calls.
"""

from __future__ import annotations

import math
import os
import re
import shutil
import time
from dataclasses import dataclass, field

import numpy as np

from perfbench import inputs as I
from perfbench import stats
from perfbench.trace import StageCollector, Tracer

K = 10
KNN_WARMUP_BATCHES = 2
QUERY_SETS = 8  # distinct query files; batches cycle through them
CHECKED_QUERIES = 16  # per batch, compared with a NumPy brute force
BATCH_SHARE = 0.6  # of the search window, for knn_join batches; the rest serves
SERVE_WARMUP_REQUESTS = 4
INGEST_WARMUP_CYCLES = 1
# Registry queries of the traced search run: from four query families
# (retrieval, dedup, relational, text) over the three tables the bench
# generates, chosen so that their DuckDB oracles take seconds, not minutes.
REGISTRY_QUERIES = (
    "hard_negatives",
    "dedup_embedding",
    "dedup_minhash_lsh",
    "pricing_summary",
    "bpe_token_counts",
)
REGISTRY_PASSES = 2  # measured, after one warm-up pass


def now() -> float:
    return time.perf_counter()


@dataclass
class Run:
    spark: object
    work: str
    seed: int
    seconds: float
    cores: int
    tracer: Tracer
    collector: StageCollector
    session_s: float
    attempted: int = 0
    failed: int = 0
    errors: list = field(default_factory=list)
    e2e: dict = field(default_factory=dict)
    layer: dict = field(default_factory=dict)

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(what)

    def stages(self, sid: int | None) -> dict:
        """Stage totals of the jobs a grouped span fired (tracing only)."""
        t0 = now()
        sp = self.tracer.get(sid)
        self.collector.drain()
        jobs = self.collector.group_jobs(sp.group)
        out = self.collector.stage_totals(jobs)
        out["jobs"] = len(jobs)
        out["wall_s"] = sp.end - sp.start
        self.tracer.busy_s += now() - t0
        return out

    def set_up(self, make):
        """Run ``make()`` (input generation, then load) once and record its
        parts. Returns its result and its wall time."""
        res, part = make()
        self.layer["session.get_spark_s"] = self.session_s
        self.layer["setup.inputs_s"] = part["inputs_s"]
        self.layer["setup.persist_s"] = part["persist_s"]
        return res, part["inputs_s"] + part["persist_s"]

    def finish_setup(self, data_s: float, warmup_s: float) -> None:
        self.layer["setup.warmup_s"] = warmup_s
        self.e2e["setup_s"] = self.session_s + data_s + warmup_s

    def finish_trace(self, window_s: float, ops: list[int]) -> None:
        if not self.tracer.enabled:
            return
        self.layer["spark.failed_tasks"] = self.collector.failed_tasks()
        self.layer["trace.unreconciled"] = self.tracer.unreconciled(ops)
        self.layer["trace.overhead_frac"] = self.tracer.busy_s / window_s


def _med(rows: list[dict], key: str) -> float:
    return stats.median([r[key] for r in rows])


def _brute_force_top(q_int: np.ndarray, vnorm: np.ndarray, ids: np.ndarray, query: np.ndarray):
    """Top-k (ids, scores) of one float query by the symmetric int8 score
    ``knn_join`` computes: exact integer dots over the product of the two
    int8 norms, ordered by score descending then id ascending."""
    from pythonvectordb_spark.serving import quantize_query

    qv = np.asarray(quantize_query(query.tolist()), dtype=np.int64)
    dots = (q_int @ qv).astype(np.float64)
    denom = vnorm * np.sqrt(float((qv * qv).sum()))
    with np.errstate(divide="ignore", invalid="ignore"):
        scores = np.where(denom > 0, dots / denom, 0.0)
    top = np.lexsort((ids, -scores))[:K]
    return ids[top].tolist(), scores[top].tolist()


def _search_setup(run: Run):
    """Write the seeded table and queries, then load the snapshot and
    persist it."""
    from pythonvectordb_spark.sources.snapshot import SNAPSHOT_VERSION, load_snapshot

    def make():
        t0 = now()
        inp = I.make_search_inputs(
            os.path.join(run.work, "search"), run.seed, QUERY_SETS, run.cores, SNAPSHOT_VERSION
        )
        t1 = now()
        table = load_snapshot(run.spark, inp.snapshot, expected_dim=I.DIM).persist()
        rows = table.count()
        t2 = now()
        if rows != I.N_VECTORS:
            raise RuntimeError(f"persisted {rows} rows, wrote {I.N_VECTORS}")
        return (inp, table), {"inputs_s": t1 - t0, "persist_s": t2 - t1}

    (inp, table), data_s = run.set_up(make)
    run.layer["storage.cached_bytes_per_vector"] = run.collector.cached_bytes() / I.N_VECTORS
    return inp, table, data_s


def search(run: Run) -> None:
    """One persisted 50,000 x 128 table, used two ways in turn: repeated
    ``knn_join`` (k=10) of 1,024 seeded queries, the reference's batched
    regime, then one client calling ``KnnServer.search`` (default
    settings) with one query at a time, each call sent when the previous
    one returns (closed loop)."""
    from pythonvectordb_spark.operators import search as S
    from pythonvectordb_spark.serving import KnnServer

    spark, tr = run.spark, run.tracer
    inp, table, data_s = _search_setup(run)
    q64 = inp.q.astype(np.int64)
    vnorm = np.sqrt((q64 * q64).sum(axis=1).astype(np.float64))
    pick = I.rng_for(run.seed, 10)
    pool = inp.queries[0]  # the served queries: batch 0 answers each of them too
    order = I.serve_order(run.seed, len(pool))

    def batch(i: int) -> tuple[float, list, tuple]:
        f = inp.query_files[i % len(inp.query_files)]
        with tr.span("search.batch", req=i) as op:
            t0 = now()
            with tr.span("search.knn_join.build", parent=op, group=True) as b:
                res = S.knn_join(table, spark.read.parquet(f), k=K, query_vec="qvec_query")
            with tr.span("search.knn_join.action", parent=op, group=True) as a:
                rows = res.collect()
            wall = now() - t0
        return wall, rows, (op, b, a)

    with KnnServer(table) as server:
        t0 = now()
        for i in range(KNN_WARMUP_BATCHES):
            batch(-1 - i)
        for i in range(SERVE_WARMUP_REQUESTS):
            server.search(inp.queries[1][i].tolist())
        run.finish_setup(data_s, now() - t0)

        walls, traced, ops = [], [], []
        served: dict[int, list] = {}  # query id -> knn_join's (vec_id, score) rows
        start = now()
        i = 0
        while now() - start < BATCH_SHARE * run.seconds:
            try:
                wall, rows, sids = batch(i)
            except Exception as e:  # an operation that fails counts, the run goes on
                run.check(False, f"knn_join batch {i}: {e!r}")
                i += 1
                continue
            walls.append(wall)
            by_q: dict[int, list] = {}
            for r in rows:
                by_q.setdefault(int(r["query_id"]), []).append(r)
            for v in by_q.values():
                v.sort(key=lambda r: r["rank"])
            ok = len(rows) == I.QUERIES_PER_BATCH * K and len(by_q) == I.QUERIES_PER_BATCH
            queries = inp.queries[i % len(inp.queries)]
            for qid in pick.choice(I.QUERIES_PER_BATCH, size=CHECKED_QUERIES, replace=False):
                got = by_q.get(int(qid), [])
                want_ids, want_scores = _brute_force_top(q64, vnorm, inp.ids, queries[qid])
                ok = ok and [r["vec_id"] for r in got] == want_ids
                ok = ok and [r["score"] for r in got] == want_scores
                ok = ok and [r["rank"] for r in got] == list(range(1, K + 1))
            run.check(ok, f"knn_join batch {i}: rows differ from the brute force")
            if i == 0:
                served = {q: [(r["vec_id"], r["score"]) for r in v] for q, v in by_q.items()}
            if tr.enabled:
                op, b, a = sids
                ops.append(op)
                traced.append((run.stages(b), run.stages(a)))
            i += 1
        batch_window = now() - start

        # closed loop: one request in flight, the next sent when it returns
        lat_ms, done = [], []
        serve_start = now()
        j = 0
        while now() - serve_start < (1.0 - BATCH_SHARE) * run.seconds:
            q = int(order[j % len(order)])
            with tr.span("serving.request", req=j):
                t0 = now()
                try:
                    got = server.search(pool[q].tolist())
                except Exception as e:  # counted; the load goes on
                    got = e
                t1 = now()
            j += 1
            run.check(
                not isinstance(got, Exception) and got == served.get(q) and len(got) == K,
                f"request {j - 1}: served rows of query {q} differ from knn_join's",
            )
            if not isinstance(got, Exception):
                done.append(t1)
                lat_ms.append((t1 - t0) * 1000.0)
        serve_end = now()
    if not walls:
        raise RuntimeError("no knn_join batch completed")
    if not lat_ms:
        raise RuntimeError("no request was answered")

    run.e2e["ops_per_s"] = I.QUERIES_PER_BATCH * len(walls) / sum(walls)
    run.e2e["latency_p50_ms"] = stats.median(lat_ms)
    reg_s, reg_ops = 0.0, []
    if tr.enabled:
        build = [b for b, _ in traced]
        act = [a for _, a in traced]
        m = I.QUERIES_PER_BATCH
        p = "search.knn_join."
        emitted = _med(act, "shuffle_write_records")
        run.layer.update(
            {
                p + "build_s": _med(build, "wall_s"),
                p + "build_jobs": _med(build, "jobs"),
                p + "action_s": _med(act, "wall_s"),
                p + "tasks": _med(act, "tasks"),
                p + "exec_cpu_ms": _med(act, "exec_cpu_ms"),
                p + "exec_run_ms": _med(act, "exec_run_ms"),
                p + "gc_ms": _med(act, "gc_ms"),
                p + "peak_exec_mem_bytes": _med(act, "peak_exec_mem_bytes"),
                p + "shuffle_write_bytes": _med(act, "shuffle_write_bytes"),
                p + "emitted_rows": emitted,
                p + "topk_useful_ratio": m * K / emitted if emitted else 0.0,
                # the broadcast (query ids, int8-valued float32 matrix,
                # norms) and the scoring gemm, from tensor sizes
                p + "broadcast_bytes": m * (8 + 4 * I.DIM + 8),
                p + "gemm_gflop": 2.0 * I.N_VECTORS * m * I.DIM / 1e9,
            }
        )
        _serving_layers(run, done, lat_ms, serve_start, serve_end)
        reg_s, reg_ops = _registry_layers(run)
    run.finish_trace(batch_window + (serve_end - serve_start) + reg_s, ops + reg_ops)


def _serving_layers(run: Run, done: list, lat_ms: list, lo: float, hi: float) -> None:
    """Per-layer figures of the serving phase. The server's job threads
    carry no job group, so its jobs are the ones that started and ended
    inside the phase; each request is matched to the job that answered it
    by completion time."""
    t0 = now()
    to_epoch = time.time() - now()
    run.collector.drain()
    jobs = run.collector.jobs_within(lo + to_epoch, hi + to_epoch + 0.05)
    spans = [(a - to_epoch, b - to_epoch) for _, a, b in jobs]
    totals = run.collector.stage_totals([j for j, _, _ in jobs])
    run.tracer.busy_s += now() - t0
    nj = len(jobs)
    if not nj:
        return
    waits = stats.queue_waits_ms(done, lat_ms, spans)
    run.layer.update(
        {
            "serving.jobs": nj,
            "serving.queries_per_job": len(done) / nj,
            "serving.job_p50_ms": stats.median([(b - a) * 1000.0 for a, b in spans]),
            "serving.exec_cpu_ms_per_job": totals["exec_cpu_ms"] / nj,
            "serving.tasks_per_job": totals["tasks"] / nj,
            "serving.wait_p50_ms": stats.median(waits) if waits else 0.0,
        }
    )


def _canon(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    if hasattr(v, "tolist"):  # numpy scalars and arrays from DuckDB
        return _canon(v.tolist())
    return v


def rowset(rows, cols: list[str]) -> list[tuple]:
    """Rows as an order-insensitive set, columns sorted by name: the
    comparison the registry's DuckDB oracles are defined against."""
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted((tuple(_canon(r[i]) for i in idx) for r in rows), key=lambda t: tuple(map(str, t)))


def plan_counts(plan: str) -> tuple[int, int]:
    """(Exchange operators, Python-evaluation operators) in the tree of a
    formatted explain: the final plan's tree when adaptive execution
    re-planned, so that no operator counts twice."""
    tree = plan.split("\n(1) ", 1)[0]
    if "== Final Plan ==" in tree:
        tree = tree.split("== Final Plan ==", 1)[1].split("== Initial Plan ==", 1)[0]
    exchanges = len(re.findall(r"\w*Exchange \(\d+\)", tree))
    python_evals = len(re.findall(r"\w*(?:Python|InPandas|InArrow)\w* \(\d+\)", tree))
    return exchanges, python_evals


def _registry_layers(run: Run) -> tuple[float, list[int]]:
    """Traced search runs only: whole passes over REGISTRY_QUERIES on
    tables the bench generates, each query's build (the registry call)
    and action (``collect``) under their own job groups; the order within
    each pass is a seeded permutation. Each query's rows are checked
    against its DuckDB oracle once. Returns the time of the measured
    passes and their operation spans."""
    import duckdb

    from pythonvectordb_spark.plans.explain import explain_str
    from pythonvectordb_spark.registry import ORACLES, QUERIES

    spark, tr = run.spark, run.tracer
    sf = I.make_registry_tables(os.path.join(run.work, "registry"), run.seed)
    perm = I.rng_for(run.seed, 11)
    per_pass, ops, frames = [], [], {}
    measured_s = 0.0
    for p in range(1 + REGISTRY_PASSES):
        spans = {}
        t0 = now()
        with tr.span("registry.pass", req=p) as op:
            for name in perm.permutation(REGISTRY_QUERIES):
                with tr.span(f"registry.{name}.build", parent=op, group=True) as b:
                    df = QUERIES[name](spark, sf)
                with tr.span(f"registry.{name}.action", parent=op, group=True) as a:
                    rows = df.collect()
                spans[name] = (b, a)
                frames[name] = (df, rows)
        if p == 0:  # warm-up pass
            continue
        measured_s += now() - t0
        ops.append(op)
        per_pass.append(
            {"pass_s": tr.get(op).end - tr.get(op).start}
            | {n: (run.stages(b), run.stages(a)) for n, (b, a) in spans.items()}
        )

    # outside any timed span: plan shape and the DuckDB oracle check
    t0 = now()
    exchanges = python_evals = 0
    for df, _ in frames.values():
        ex, py = plan_counts(explain_str(df))
        exchanges += ex
        python_evals += py
    run.tracer.busy_s += now() - t0
    con = duckdb.connect()
    for t in ("embeddings", "documents", "lineitem"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
    for name, (df, rows) in frames.items():
        duck = con.execute(ORACLES[name])
        d_cols = [d[0] for d in duck.description]
        ok = sorted(df.columns) == sorted(d_cols) and rowset(rows, df.columns) == rowset(duck.fetchall(), d_cols)
        run.check(ok, f"registry query {name}: rows differ from its DuckDB oracle")
    con.close()

    def over_passes(f) -> float:
        return stats.median([f(pp) for pp in per_pass])

    def total(side: int, key: str) -> float:
        return over_passes(lambda pp: sum(pp[n][side][key] for n in REGISTRY_QUERIES))

    layer = {
        "registry.pass_s": over_passes(lambda pp: pp["pass_s"]),
        "registry.build_s": total(0, "wall_s"),
        "registry.build_jobs": total(0, "jobs"),
        "registry.action_s": total(1, "wall_s"),
        "registry.action_jobs": total(1, "jobs"),
        "registry.exchanges": exchanges,
        "registry.python_evals": python_evals,
    }
    for key in ("stages", "tasks", "exec_cpu_ms", "exec_run_ms", "shuffle_write_bytes", "gc_ms", "peak_exec_mem_bytes"):
        layer[f"registry.{key}"] = total(1, key)
    for n in REGISTRY_QUERIES:
        layer[f"registry.{n}.build_s"] = over_passes(lambda pp: pp[n][0]["wall_s"])
        layer[f"registry.{n}.build_jobs"] = over_passes(lambda pp: pp[n][0]["jobs"])
        layer[f"registry.{n}.action_s"] = over_passes(lambda pp: pp[n][1]["wall_s"])
    run.layer.update(layer)
    return measured_s, ops


def _parquet_bytes(path: str) -> tuple[int, int]:
    names = [f for f in os.listdir(path) if f.endswith(".parquet")]
    return sum(os.path.getsize(os.path.join(path, f)) for f in names), len(names)


def ingest_cycle(run: Run) -> None:
    """A chain of on-disk snapshots: each cycle validates, adds 1,000 fresh
    vectors, deletes 1,000 live ids, saves a new version, then loads it and
    searches for an inserted vector (read after write)."""
    from pythonvectordb_spark.operators import search as S
    from pythonvectordb_spark.operators.mutation import add_vectors, delete_vectors
    from pythonvectordb_spark.sources.snapshot import (
        SNAPSHOT_VERSION,
        load_snapshot,
        save_snapshot,
        validate_batch,
    )

    spark, tr = run.spark, run.tracer
    # at least one cycle per second of the window, beyond the warm-up
    cycles = INGEST_WARMUP_CYCLES + int(run.seconds) + 2
    root = os.path.join(run.work, "ingest")

    def make():
        t0 = now()
        inp = I.make_ingest_inputs(root, run.seed, cycles, run.cores, SNAPSHOT_VERSION)
        t1 = now()
        table = load_snapshot(spark, inp.snapshot, expected_dim=I.DIM)
        rows = table.count()
        t2 = now()
        if rows != I.N_VECTORS:
            raise RuntimeError(f"loaded {rows} rows, wrote {I.N_VECTORS}")
        return (inp, table), {"inputs_s": t1 - t0, "persist_s": t2 - t1}

    (inp, table), data_s = run.set_up(make)
    version = [0]

    def cycle(c: I.IngestCycle, req: int):
        nxt = os.path.join(root, f"v{version[0] + 1:04d}")
        with tr.span("ingest.cycle", req=req) as op:
            w0 = now()
            with tr.span("snapshot.validate_batch", parent=op, group=True) as sv:
                batch = validate_batch(spark.read.parquet(c.batch_file), I.DIM)
            with tr.span("mutation.add_vectors", parent=op, group=True) as sa:
                added = add_vectors(table, batch)
            with tr.span("mutation.delete_vectors", parent=op, group=True) as sd:
                kept = delete_vectors(added, spark.read.parquet(c.delete_file))
            with tr.span("snapshot.save_snapshot", parent=op, group=True) as ss:
                save_snapshot(kept, nxt, I.DIM)
            w1 = now()
            with tr.span("snapshot.load_snapshot", parent=op, group=True) as sl:
                new = load_snapshot(spark, nxt, expected_dim=I.DIM)
            with tr.span("search.knn_search.build", parent=op, group=True) as sb:
                found = S.knn_search(new, c.probe_vec, k=K)
            with tr.span("search.knn_search.action", parent=op, group=True) as sc:
                rows = found.collect()
            w2 = now()
        old = os.path.join(root, f"v{version[0] - 1:04d}")
        if version[0] >= 1:
            shutil.rmtree(old, ignore_errors=True)  # keep the chain's disk use flat
        version[0] += 1
        return new, w1 - w0, w2 - w1, rows, (op, sv, sa, sd, ss, sl, sb, sc)

    t0 = now()
    for c in range(INGEST_WARMUP_CYCLES):
        table, *_ = cycle(inp.cycles[c], -1 - c)
    run.finish_setup(data_s, now() - t0)

    write_s, raw_ms, traced, ops = [], [], [], []
    start = now()
    c = INGEST_WARMUP_CYCLES
    while now() - start < run.seconds and c < len(inp.cycles):
        cyc = inp.cycles[c]
        try:
            table, w, r, rows, sids = cycle(cyc, c)
        except Exception as e:  # the chain cannot go on past a failed write
            run.check(False, f"ingest cycle {c}: {e!r}")
            break
        write_s.append(w)
        raw_ms.append(r * 1000.0)
        run.check(
            len(rows) == K and rows[0]["vec_id"] == cyc.probe_id,
            f"cycle {c}: read after write did not rank inserted id first",
        )
        if tr.enabled:
            ops.append(sids[0])
            traced.append([run.stages(s) for s in sids[1:]])
        c += 1
    window = now() - start
    if not write_s:
        raise RuntimeError("no ingest cycle completed")

    run.e2e["ops_per_s"] = 2 * I.INGEST_BATCH * len(write_s) / sum(write_s)
    run.e2e["latency_p50_ms"] = stats.median(raw_ms)
    latest = os.path.join(root, f"v{version[0]:04d}")
    nbytes, nfiles = _parquet_bytes(latest)
    run.layer["storage.snapshot_bytes_per_vector"] = nbytes / I.N_VECTORS

    # counts after add and delete, the duplicate guard, and the live count
    run.check(table.count() == I.N_VECTORS, "latest version does not hold 50,000 vectors")
    added = add_vectors(table, spark.read.parquet(inp.check.batch_file))
    run.check(added.count() == I.N_VECTORS + I.INGEST_BATCH, "count after add_vectors is wrong")
    kept = delete_vectors(added, spark.read.parquet(inp.check.delete_file))
    run.check(kept.count() == I.N_VECTORS, "count after delete_vectors is wrong")
    try:
        add_vectors(table, spark.read.parquet(inp.dup_file))
        raised = False
    except ValueError:
        raised = True
    run.check(raised, "add_vectors accepted a duplicate id")

    if tr.enabled:
        cols = list(zip(*traced))  # one list of per-cycle stage dicts per span
        v, a, d, s, lo, b, act = cols
        run.layer.update(
            {
                "snapshot.validate_batch_s": _med(v, "wall_s"),
                "mutation.add_vectors_s": _med(a, "wall_s"),
                "mutation.add_vectors.jobs": _med(a, "jobs"),
                "mutation.delete_vectors_s": _med(d, "wall_s"),
                "snapshot.save_snapshot_s": _med(s, "wall_s"),
                "snapshot.save_snapshot.exec_cpu_ms": _med(s, "exec_cpu_ms"),
                "snapshot.files": nfiles,
                "snapshot.load_snapshot_s": _med(lo, "wall_s"),
                "search.knn_search.build_s": _med(b, "wall_s"),
                "search.knn_search.action_s": _med(act, "wall_s"),
                "search.knn_search.exec_cpu_ms": _med(act, "exec_cpu_ms"),
            }
        )
    run.finish_trace(window, ops)


WORKLOADS = {"search": search, "ingest_cycle": ingest_cycle}

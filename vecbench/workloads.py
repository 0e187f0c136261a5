"""The benchmark's workloads. Each takes a :class:`Run` and returns
``(end_to_end, per_layer)`` metric dicts of plain floats.

One process, one closed-loop client: every call waits for the previous
one. Timed calls are measured around the public engine entry points;
oracle checks run between calls, outside the timings.
"""

from __future__ import annotations

import os
import sys
import time
import traceback
from dataclasses import dataclass, field

import numpy as np

from . import env, gen, oracle
from .stats import median, tail
from .trace import Tracer

D = 128
K = 10


@dataclass
class Run:
    spark: object
    tracer: Tracer
    seed: int
    seconds: float
    work: str
    session_s: float
    attempted: int = 0
    failed: int = 0
    notes: dict = field(default_factory=dict)

    def call(self, what: str, fn):
        """One engine operation: counted as attempted, and as failed if
        it raises. Returns ``fn()`` or None on failure."""
        self.attempted += 1
        try:
            return fn()
        except Exception:
            traceback.print_exc(file=sys.stderr)
            self.fail(what, "raised")
            return None

    def fail(self, what: str, why: str) -> None:
        self.failed += 1
        print(f"vecbench: FAILED {what}: {why}", file=sys.stderr)

    def verify(self, what: str, errs: list[str]) -> None:
        """Count a wrong result as a failure of the operation that gave it."""
        if errs:
            self.fail(what, "; ".join(errs))


def _timed(fn):
    t = time.perf_counter()
    out = fn()
    return (time.perf_counter() - t) * 1e3, out


def _common(run: Run, setup_reps: list[float], e2e: dict) -> dict:
    ok = 1.0 - run.failed / max(run.attempted, 1)
    e2e.update({
        "setup_s": run.session_s + median(setup_reps),
        "ok_ops_frac": ok,
        "peak_rss_mb": env.peak_rss_mb(run.spark),
    })
    return e2e


def _pooled(shares: list[tuple[float, int]]) -> float:
    """Mean of per-call shares weighted by each call's item count."""
    return sum(s * n for s, n in shares) / sum(n for _, n in shares)


def _overhead(calls: list[dict]) -> float:
    """Median latency of traced calls over untraced ones, minus one."""
    on = [c["ms"] for c in calls if c["span"] is not None]
    off = [c["ms"] for c in calls if c["span"] is None]
    return median(on) / median(off) - 1.0 if on and off else 0.0


def _load_table(run: Run, path: str, n: int, **kw):
    """A persisted VectorTable read from ``path`` (ids kept)."""
    from faiss_metal_spark import VectorTable

    def load():
        vt = VectorTable.from_parquet(run.spark, path, D, id_col="id", **kw).persist()
        got = vt.ntotal
        if got != n:
            raise RuntimeError(f"loaded {got} rows, expected {n}")
        return vt

    return run.call(f"load {kw or 'fp32'}", load)


# ---------------------------------------------------------------------------
# knn_flat — read-only exact search over an fp32 and an fp16 compact table
# ---------------------------------------------------------------------------

KNN_N = 25_000
KNN_POOL = 4_000  # query pool; point and batch calls walk through it
KNN_BATCH = 1_000
KNN_POINTS_PER_CYCLE = 6
# a cycle (6 point calls and one batch call) takes ~5 s at local[4]; the
# cycle count is fixed from --seconds so every run, fast or slow, makes
# the same calls and its percentiles rest on the same sample counts
KNN_NOMINAL_CYCLE_S = 5.0
KNN_CHECK_ROWS = 32  # sampled rows of each batch result checked by the oracle
SETUP_REPS = 5  # the first is cold, so the median is a warm rep


def knn_flat(run: Run):
    from faiss_metal_spark import vector_table

    tr = run.tracer
    if tr.enabled:
        tr.wrap(vector_table, "knn_search", "knn.knn_search")
    X, pool = gen.knn_inputs(run.seed, KNN_N, D, KNN_POOL)
    norms = np.einsum("ij,ij->i", X.astype(np.float64), X.astype(np.float64))
    stored = {"fp32": X, "fp16": X.astype(np.float16).astype(np.float32)}
    tol = {"fp32": oracle.TOL_FP32, "fp16": oracle.TOL_FP16}

    reps, gen_s, load_s, encode_s = [], [], [], []
    tables = None
    for rep in range(SETUP_REPS):
        path = os.path.join(run.work, f"knn_{rep}.parquet")
        t0 = time.perf_counter()
        gen.write_vectors_parquet(X, path)
        t1 = time.perf_counter()
        with tr.span("sources.from_parquet"):
            fp32 = _load_table(run, path, KNN_N)
        t2 = time.perf_counter()
        with tr.span("quantize.encode_col"):
            fp16 = _load_table(run, path, KNN_N, storage="fp16", compact=True)
        t3 = time.perf_counter()
        if fp32 is None or fp16 is None:
            return None
        gen_s.append(t1 - t0)
        load_s.append(t2 - t1)
        encode_s.append(t3 - t2)
        reps.append(t3 - t0)
        if rep < SETUP_REPS - 1:
            env.release(fp32.df, fp16.df)
        tables = {"fp32": fp32, "fp16": fp16}
    env.jvm_gc(run.spark)

    calls: list[dict] = []
    recall_hits: list[tuple[float, int]] = []
    qpos = 0

    def search(kind: str, storage: str, rows: np.ndarray, record: bool):
        vt = tables[storage]
        with tr.span("vector_table.search_numpy") as sp:
            ms, res = _timed(lambda: run.call(f"{kind} search {storage}",
                                              lambda: vt.search_numpy(rows, K)))
        if res is None:
            return
        Dr, Lr = res
        sample = np.arange(len(rows)) if kind == "point" else np.linspace(
            0, len(rows) - 1, KNN_CHECK_ROWS).astype(int)
        dist = oracle.sq_dists(rows[sample], stored[storage], norms)
        run.verify(f"{kind} search {storage}",
                   oracle.check_flat(Dr[sample], Lr[sample], dist, tol[storage]))
        if storage == "fp16":
            exact = oracle.topk(oracle.sq_dists(rows[sample], X), K)[1]
            recall_hits.append((oracle.recall(Lr[sample], exact), exact.size))
        if record:
            calls.append({"kind": kind, "storage": storage, "ms": ms, "span": sp,
                          "nq": len(rows)})

    def next_rows(n: int) -> np.ndarray:
        nonlocal qpos
        idx = (qpos + np.arange(n)) % KNN_POOL
        qpos += n
        return pool[idx]

    run.notes.update({"setup_reps_s": reps, "load_s": load_s, "encode_s": encode_s})
    # warm-up: a table's first search runs 2-3x slower than steady state;
    # its first batch only ~10% slower, so batches are not warmed
    w0 = time.perf_counter()
    tr.active = False
    for storage in ("fp32", "fp16"):
        search("point", storage, next_rows(1), record=False)

    start = time.perf_counter()
    run.notes["warmup_s"] = start - w0
    # at least two cycles, so each table serves a batch call
    for cycle in range(max(2, round(run.seconds / KNN_NOMINAL_CYCLE_S))):
        # a traced run alternates traced and untraced point cycles (overhead A/B)
        tr.active = tr.enabled and cycle % 2 == 0
        for p in range(KNN_POINTS_PER_CYCLE):
            search("point", ("fp32", "fp16")[p % 2], next_rows(1), record=True)
        tr.active = tr.enabled
        search("batch", ("fp32", "fp16")[cycle % 2], next_rows(KNN_BATCH), record=True)

    run.notes["loop_s"] = time.perf_counter() - start
    point = [c["ms"] for c in calls if c["kind"] == "point"]
    batch = [c["ms"] for c in calls if c["kind"] == "batch"]
    run.notes["point_ms"] = point
    run.notes["batch_ms"] = batch
    if not point or not batch:
        return None
    t_val, t_pct = tail(point)
    run.notes.update({"point_calls": len(point), "batch_calls": len(batch),
                      "search_tail_percentile": t_pct})
    e2e = _common(run, reps, {
        "search_p50_ms": median(point),
        "search_tail_ms": t_val,
        "batch_qps": KNN_BATCH * len(batch) / (sum(batch) / 1e3),
        "build_s": median(encode_s),
        # both tables ingest the same rows; one ~1 s step jitters less than two halves
        "ingest_vps": 2 * KNN_N / median([a + b for a, b in zip(load_s, encode_s)]),
        "recall_at_10": _pooled(recall_hits),
    })
    if not tr.enabled:
        return e2e, {}

    layer = _session_layer(run)
    layer.update({
        "sources.gen_s": median(gen_s),
        "quantize.encode_s": median(encode_s),
        "quantize.decode_ms": _decode_ms(X),
        "trace.overhead_frac": _overhead([c for c in calls if c["kind"] == "point"]),
    })
    ceiling = {"point": _numpy_ceiling_ms(X, pool[:1], 9),
               "batch": _numpy_ceiling_ms(X, pool[:KNN_BATCH], 3)}
    for kind in ("point", "batch"):
        layer[f"knn.{kind}.numpy_ceiling_ms"] = ceiling[kind]
        for storage in ("fp32", "fp16"):
            group = [c for c in calls if c["kind"] == kind
                     and c["storage"] == storage and c["span"] is not None]
            layer.update(_knn_layer(f"knn.{kind}.{storage}", group, ceiling[kind]))
    layer.update(_zero_layers(CHURN_LAYERS))
    tr.unwrap()
    return e2e, layer


def _knn_layer(prefix: str, group: list[dict], ceiling_ms: float) -> dict:
    spans = [c["span"] for c in group]
    plans = [sum(s.ms for s in sp.find("knn.knn_search")) for sp in spans]
    return {
        f"{prefix}.plan_ms": median(plans),
        f"{prefix}.action_ms": median([sp.ms - p for sp, p in zip(spans, plans)]),
        f"{prefix}.jobs": median([sp.n_jobs for sp in spans]),
        f"{prefix}.stages": median([sp.total("stages") for sp in spans]),
        f"{prefix}.tasks": median([sp.total("tasks") for sp in spans]),
        f"{prefix}.exec_ms": median([sp.exec_ms for sp in spans]),
        f"{prefix}.shuffle_bytes": median([sp.total("shuffle_bytes") for sp in spans]),
        f"{prefix}.overhead_ratio": median([c["ms"] for c in group]) / ceiling_ms,
    }


def _numpy_ceiling_ms(X: np.ndarray, Q: np.ndarray, reps: int) -> float:
    """In-process GEMM + argpartition top-k on the same shapes: the
    compute floor the engine's call is compared against."""
    times = []
    for _ in range(reps):
        t = time.perf_counter()
        qn = np.einsum("ij,ij->i", Q, Q)
        xn = np.einsum("ij,ij->i", X, X)
        dist = qn[:, None] + xn[None, :] - 2.0 * (Q @ X.T)
        np.argpartition(dist, K - 1, axis=1)[:, :K]
        times.append((time.perf_counter() - t) * 1e3)
    return median(times)


def _decode_ms(X: np.ndarray) -> float:
    """In-process decode of the whole table's fp16 bytes to float32."""
    from faiss_metal_spark.quantize import fp16_encode_np

    buf = b"".join(fp16_encode_np(X))
    times = []
    for _ in range(5):
        t = time.perf_counter()
        np.frombuffer(buf, np.float16).reshape(len(X), -1).astype(np.float32)
        times.append((time.perf_counter() - t) * 1e3)
    return median(times)


def _session_layer(run: Run) -> dict:
    return {"session.start_s": run.session_s,
            "session.empty_job_ms": env.empty_job_ms(run.spark)}


# ---------------------------------------------------------------------------
# index_churn — writes beside reads on a flat table and an IVF index
# ---------------------------------------------------------------------------

CHURN_N = 10_000
CHURN_NLIST = 16
CHURN_NPROBE = 8  # IVFIndex.search default
CHURN_ROUNDS = 3
CHURN_ADD = 1_000
CHURN_REMOVE = 20
CHURN_FLAT_POINTS = 3  # per search round
CHURN_IVF_POINTS = 3
CHURN_IVF_BATCH = 100
CHURN_POOL = 1_000

KNN_LAYERS = [f"knn.{kind}.{storage}.{m}"
              for kind in ("point", "batch") for storage in ("fp32", "fp16")
              for m in ("plan_ms", "action_ms", "jobs", "stages", "tasks",
                        "exec_ms", "shuffle_bytes", "overhead_ratio")] + [
    f"knn.{kind}.numpy_ceiling_ms" for kind in ("point", "batch")] + [
    "quantize.encode_s", "quantize.decode_ms"]
CHURN_LAYERS = [
    "sources.index_write_ms", "sources.index_read_ms",
    "sources.bytes_per_vector_byte",
    "vector_table.add_ms", "vector_table.add_jobs",
    "vector_table.remove_ms", "vector_table.remove_jobs",
    *[f"vector_table.plan_nodes.r{r}" for r in range(CHURN_ROUNDS + 1)],
    *[f"vector_table.search_ms.r{r}" for r in range(CHURN_ROUNDS + 1)],
    "ivf.train_s", "ivf.assign_s", "ivf.add_ms", "ivf.search_plan_ms",
    "ivf.search_jobs", "ivf.codes_scanned_per_query", "ivf.scan_fraction",
]


def _zero_layers(names) -> dict:
    """Layers a workload bypasses do zero work in it."""
    return {n: 0.0 for n in names}


def _plan_nodes(df) -> int:
    return len(df._jdf.queryExecution().logical().treeString().splitlines())


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


def index_churn(run: Run):
    from faiss_metal_spark import index_factory, read_index, write_index
    from faiss_metal_spark.operators import similarity

    tr = run.tracer
    if tr.enabled:
        tr.wrap(similarity, "ivf_train_centroids", "ivf.ivf_train_centroids")
        tr.wrap(similarity, "ivf_assign", "ivf.ivf_assign")
        tr.wrap(similarity, "ivf_search", "ivf.ivf_search")
    base, adds, removes, pool = gen.churn_inputs(
        run.seed, CHURN_N, D, CHURN_ROUNDS, CHURN_ADD, CHURN_REMOVE, CHURN_POOL)

    reps, gen_s, build_s, train_s = [], [], [], []
    vt = ivf = None
    for rep in range(SETUP_REPS):
        path = os.path.join(run.work, f"churn_{rep}.parquet")
        t0 = time.perf_counter()
        gen.write_vectors_parquet(base, path)
        t1 = time.perf_counter()
        with tr.span("sources.from_parquet"):
            vt = _load_table(run, path, CHURN_N)
        if vt is None:
            return None
        t2 = time.perf_counter()
        with tr.span("compact_index.index_factory") as sp:
            ivf = run.call("ivf build", lambda: index_factory(vt, f"IVF{CHURN_NLIST},Flat"))
        t3 = time.perf_counter()
        if ivf is None:
            return None
        gen_s.append(t1 - t0)
        build_s.append(t3 - t2)
        reps.append(t3 - t0)
        if sp is not None:
            train_s.append(sum(s.ms for s in sp.find("ivf.ivf_train_centroids")) / 1e3)
        if rep < SETUP_REPS - 1:
            env.release(vt.df, ivf.assigned)
    env.jvm_gc(run.spark)

    # numpy mirrors of both indexes: flat ids are dense positions and
    # shift down on removal; IVF ids are never renumbered
    flat_X = base.copy()
    ivf_X = base.copy()

    calls: list[dict] = []
    recall_hits: list[tuple[float, int]] = []
    writes: list[dict] = []
    plan_nodes: list[int] = []
    qpos = 0
    last_ivf_batch = None

    def next_rows(n: int) -> np.ndarray:
        nonlocal qpos
        idx = (qpos + np.arange(n)) % CHURN_POOL
        qpos += n
        return pool[idx]

    def search(index, kind: str, rows: np.ndarray, rnd: int, traced: bool):
        nonlocal last_ivf_batch
        tr.active = traced
        name = "vector_table.search_numpy" if kind == "flat" else "ivf.search_numpy"
        with tr.span(name) as sp:
            ms, res = _timed(lambda: run.call(f"{kind} search r{rnd}",
                                              lambda: index.search_numpy(rows, K)))
        tr.active = tr.enabled
        if res is None:
            return
        Dr, Lr = res
        if kind == "flat":
            dist = oracle.sq_dists(rows, flat_X)
            run.verify(f"flat search r{rnd}", oracle.check_flat(Dr, Lr, dist, oracle.TOL_FP32))
        else:
            dist = oracle.sq_dists(rows, ivf_X)
            run.verify(f"ivf search r{rnd}", oracle.check_ann(Dr, Lr, dist))
            exact = oracle.topk(dist, K)[1]
            recall_hits.append((oracle.recall(Lr, exact), exact.size))
            if len(rows) > 1:
                last_ivf_batch = (rows, Dr, Lr)
        calls.append({"kind": kind, "nq": len(rows), "round": rnd, "ms": ms, "span": sp})

    def search_round(rnd: int):
        # point calls alternate traced/untraced in a traced run
        for i in range(CHURN_FLAT_POINTS):
            search(vt, "flat", next_rows(1), rnd, tr.enabled and i % 2 == 0)
        for i in range(CHURN_IVF_POINTS):
            search(ivf, "ivf", next_rows(1), rnd, tr.enabled and i % 2 == 0)
        if rnd > 0:  # the first IVF batch of a process runs ~1.5x slower
            search(ivf, "ivf", next_rows(CHURN_IVF_BATCH), rnd, tr.enabled)
        if tr.enabled:
            plan_nodes.append(_plan_nodes(vt.df))

    run.notes.update({"setup_reps_s": reps, "build_s": build_s})
    # warm-up: the first search of each index type runs 2-3x slower
    search(vt, "flat", next_rows(1), 0, False)
    search(ivf, "ivf", next_rows(1), 0, False)
    calls.clear()
    t_rounds = time.perf_counter()
    search_round(0)
    for rnd in range(1, CHURN_ROUNDS + 1):
        batch, drop = adds[rnd - 1], removes[rnd - 1]
        t0 = time.perf_counter()
        with tr.span("vector_table.add_numpy") as s_add:
            if run.call(f"flat add r{rnd}", lambda: vt.add_numpy(batch)) is None:
                return None
        with tr.span("ivf.add_numpy") as s_ivf:
            if run.call(f"ivf add r{rnd}", lambda: ivf.add_numpy(batch)) is None:
                return None
        with tr.span("vector_table.remove_ids") as s_rem:
            removed = run.call(f"flat remove r{rnd}", lambda: vt.remove_ids(drop.tolist()))
        wall = time.perf_counter() - t0
        if removed is None:
            return None
        if removed != len(drop):
            run.fail(f"flat remove r{rnd}", f"removed {removed} of {len(drop)}")
        flat_X = np.delete(np.vstack([flat_X, batch]), drop, axis=0)
        ivf_X = np.vstack([ivf_X, batch])
        writes.append({"wall": wall, "add": s_add, "ivf": s_ivf, "rem": s_rem})
        search_round(rnd)

    run.notes["rounds_s"] = time.perf_counter() - t_rounds
    # persistence round trip of the final IVF state
    if last_ivf_batch is None:
        return None
    rows, D0, L0 = last_ivf_batch
    ipath = os.path.join(run.work, "ivf_index")
    with tr.span("sources.write_index"):
        w_ms, wrote = _timed(lambda: run.call("write_index", lambda: write_index(ivf, ipath) or True))
    with tr.span("sources.read_index"):
        r_ms, ivf2 = _timed(lambda: run.call("read_index", lambda: read_index(run.spark, ipath)))
    if not wrote or ivf2 is None:
        return None
    res = run.call("search after read_index", lambda: ivf2.search_numpy(rows, K))
    if res is not None:
        same = np.array_equal(res[1], L0) and np.allclose(res[0], D0, rtol=1e-6, atol=0)
        run.verify("search after read_index", [] if same else
                   ["differs from the search before write_index"])

    point = [c["ms"] for c in calls if c["nq"] == 1]
    batch_ms = [c["ms"] for c in calls if c["nq"] > 1]
    run.notes.update({"point_ms": point, "batch_ms": batch_ms, "write_ms": w_ms,
                      "read_ms": r_ms, "writes_s": [w["wall"] for w in writes]})
    t_val, t_pct = tail(point)
    run.notes.update({"point_calls": len(point), "batch_calls": len(batch_ms),
                      "search_tail_percentile": t_pct})
    e2e = _common(run, reps, {
        "search_p50_ms": median(point),
        "search_tail_ms": t_val,
        "batch_qps": CHURN_IVF_BATCH * len(batch_ms) / (sum(batch_ms) / 1e3),
        "build_s": median(build_s),
        "ingest_vps": CHURN_ADD * len(writes) / sum(w["wall"] for w in writes),
        "recall_at_10": _pooled(recall_hits),
    })
    if not tr.enabled:
        return e2e, {}

    layer = _session_layer(run)
    ivf_points = [c for c in calls if c["kind"] == "ivf" and c["nq"] == 1
                  and c["span"] is not None]
    codes = _codes_scanned(ivf.centroids, ivf_X, pool)
    layer.update({
        "sources.gen_s": median(gen_s),
        "sources.index_write_ms": w_ms,
        "sources.index_read_ms": r_ms,
        "sources.bytes_per_vector_byte": _dir_bytes(ipath) / (len(ivf_X) * D * 4),
        "vector_table.add_ms": median([w["add"].ms for w in writes]),
        "vector_table.add_jobs": median([w["add"].n_jobs for w in writes]),
        "vector_table.remove_ms": median([w["rem"].ms for w in writes]),
        "vector_table.remove_jobs": median([w["rem"].n_jobs for w in writes]),
        "ivf.train_s": median(train_s),
        "ivf.assign_s": median(build_s) - median(train_s),
        "ivf.add_ms": median([w["ivf"].ms for w in writes]),
        "ivf.search_plan_ms": median(
            [sum(s.ms for s in c["span"].find("ivf.ivf_search")) for c in ivf_points]),
        "ivf.search_jobs": median([c["span"].n_jobs for c in ivf_points]),
        "ivf.codes_scanned_per_query": codes,
        "ivf.scan_fraction": codes / len(ivf_X),
        "trace.overhead_frac": _overhead([c for c in calls if c["nq"] == 1]),
    })
    for r in range(CHURN_ROUNDS + 1):
        layer[f"vector_table.plan_nodes.r{r}"] = plan_nodes[r]
        layer[f"vector_table.search_ms.r{r}"] = median(
            [c["ms"] for c in calls if c["kind"] == "flat" and c["round"] == r])
    layer.update(_zero_layers(KNN_LAYERS))
    tr.unwrap()
    return e2e, layer


def _codes_scanned(C: np.ndarray, X: np.ndarray, Q: np.ndarray) -> float:
    """Mean inverted-list entries in the ``CHURN_NPROBE`` cells each
    query probes (faiss ``ndis``), from the centroids and list sizes."""
    cn = np.einsum("ij,ij->i", C, C)
    cells = np.argmin(cn[None, :] - 2.0 * (X.astype(np.float64) @ C.T), axis=1)
    sizes = np.bincount(cells, minlength=len(C))
    probe = np.argsort(cn[None, :] - 2.0 * (Q.astype(np.float64) @ C.T), axis=1)
    return float(sizes[probe[:, :CHURN_NPROBE]].sum(axis=1).mean())


WORKLOADS = {"knn_flat": knn_flat, "index_churn": index_churn}

"""The three workloads. Each is a closed loop with one client thread: the
next request goes out only when the previous one has returned.

Every workload reports the same end-to-end metrics, each meaning the
workload's own unit of work (see README.md):

    setup_s      session start + median input generation/load + warm-up
    build_s      index build: IVF fit + save (or VectorTable.rebuild),
                 or the near-duplicate sidecar bootstrap
    op_p50_ms    median latency of the workload's request
    rate_per_s   work units completed per second of the measured loop
    recall       ANN recall@10 against numpy, or near-duplicate recall
    space_amp    bytes on disk per live user byte
    peak_rss_mb  added by the runner from /proc

A workload returns a Result; failed operations and failed checks count
into ``failed``.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field

import numpy as np

import gen
import stats

K = 10  # neighbours per search


@dataclass
class Ctx:
    spark: object
    work: str  # private data directory of this run
    seed: int
    seconds: float
    tracer: object
    session_start_s: float
    info: dict = field(default_factory=dict)


@dataclass
class Result:
    metrics: dict = field(default_factory=dict)  # end-to-end, name -> value
    layers: dict = field(default_factory=dict)  # per-layer, name -> value
    extra: dict = field(default_factory=dict)  # printed, not compared
    attempted: int = 0
    failed: int = 0
    errors: list = field(default_factory=list)

    def fail(self, what: str) -> None:
        self.failed += 1
        if len(self.errors) < 20:
            self.errors.append(what)


SETUP_REPEATS = 3


def _median_setup(ctx: Ctx, make) -> tuple[float, object]:
    """Run ``make(i)`` SETUP_REPEATS times on identical inputs; keep the
    first product, return the median time. Repeats use their own
    directories and are deleted."""
    times, first = [], None
    for i in range(SETUP_REPEATS):
        t0 = time.perf_counter()
        out = make(i)
        times.append(time.perf_counter() - t0)
        if i == 0:
            first = out
    for i in range(1, SETUP_REPEATS):
        shutil.rmtree(os.path.join(ctx.work, f"rep{i}"), ignore_errors=True)
    return stats.median(times), first


def _rep_dir(ctx: Ctx, i: int) -> str:
    return os.path.join(ctx.work, f"rep{i}")


def _latencies(values_s) -> dict:
    ms = [1000.0 * v for v in values_s]
    out = {"n": len(ms), "p50_ms": stats.median(ms) if ms else None}
    q = stats.tail_percentile(len(ms))
    if q is not None:
        out[f"p{q:g}_ms"] = stats.percentile(ms, q)
    return out


# -- numpy ground truth ------------------------------------------------------

class LiveSet:
    """The benchmark's own bookkeeping of live (id -> vector) rows."""

    def __init__(self, ids: np.ndarray, vecs: np.ndarray):
        self.ids = np.asarray(ids, dtype=np.int64)
        self.vecs = np.asarray(vecs, dtype=np.float32)
        self._pos = None

    def pos(self) -> dict:
        if self._pos is None:
            self._pos = {int(i): p for p, i in enumerate(self.ids)}
        return self._pos

    def add(self, ids, vecs) -> None:
        self.ids = np.concatenate([self.ids, np.asarray(ids, dtype=np.int64)])
        self.vecs = np.concatenate([self.vecs, np.asarray(vecs, np.float32)])
        self._pos = None

    def remove(self, ids) -> None:
        keep = ~np.isin(self.ids, np.asarray(list(ids), dtype=np.int64))
        self.ids, self.vecs = self.ids[keep], self.vecs[keep]
        self._pos = None

    def replace(self, id_: int, vec) -> None:
        self.vecs[self.pos()[int(id_)]] = np.asarray(vec, np.float32)


def _rows_scanned_per_result(index_dir: str, live: LiveSet, queries,
                             nprobe: int) -> float:
    """Rows in the ``nprobe`` probed clusters per result row: the live
    rows are assigned to the saved centroids in numpy, each query's
    probes are its nprobe nearest centroids."""
    import json

    with open(os.path.join(index_dir, "meta.json")) as f:
        cents = np.asarray(json.load(f)["centroids"], dtype=np.float64)
    c2 = (cents * cents).sum(1)
    sizes = np.zeros(len(cents), dtype=np.int64)
    for a in range(0, len(live.vecs), 20_000):
        x = live.vecs[a:a + 20_000].astype(np.float64)
        d = c2[None, :] - 2.0 * x @ cents.T
        sizes += np.bincount(d.argmin(1), minlength=len(cents))
    qs = np.asarray(queries, dtype=np.float64)
    dq = c2[None, :] - 2.0 * qs @ cents.T
    probes = np.argsort(dq, axis=1)[:, :nprobe]
    return float(np.mean(sizes[probes].sum(1))) / K


def _check_searches(res: Result, live: LiveSet, answers, exact: bool) -> list:
    """Check every (query, rows) answer; returns the recalls. Queries go
    through numpy in chunks: one float32 product ranks the candidates,
    exact distances settle the top k."""
    recalls = []
    x = live.vecs
    x2 = (x * x).sum(1)
    pos = live.pos()
    for a in range(0, len(answers), 100):
        chunk = answers[a:a + 100]
        qs = np.asarray([q for q, _ in chunk], dtype=np.float32)
        approx = x2[:, None] - 2.0 * (x @ qs.T)
        n_cand = min(len(x), 4 * K)
        cand = np.argpartition(approx, n_cand - 1, axis=0)[:n_cand]
        for j, (q, rows) in enumerate(chunk):
            c = cand[:, j]
            d = stats.sq_dists(live.vecs[c], q)
            tids, tds = stats.exact_topk(live.ids[c], live.vecs[c], q, K, d=d)

            def dist_of(i, q=q):
                p = pos.get(i)
                return None if p is None else float(stats.sq_dists(
                    live.vecs[p:p + 1], np.asarray(q, np.float32))[0])

            why = stats.check_knn_result(rows, dist_of, tids, tds, K, exact)
            recalls.append(stats.recall_at_k([i for i, _ in rows], tids))
            if why:
                res.fail(f"{'exact' if exact else 'ann'} search: {why}")
    return recalls


# -- shared vector setup -----------------------------------------------------

def _vector_corpus(ctx: Ctx, n: int, dim: int, n_mix: int):
    rng = np.random.default_rng([ctx.seed, 1])
    mix = gen.Mixture.make(rng, n_mix, dim)
    vecs = mix.sample(rng, n)
    ctx.info.update({"n": n, "dim": dim, "mixture_components": n_mix,
                     "input_bytes": int(vecs.nbytes) + 8 * n})
    return mix, vecs


def _load_table(ctx: Ctx, i: int, vecs: np.ndarray):
    """Write the generated rows as a staging parquet file, then load them
    through VectorTable.init + add(DataFrame) — the public bulk path."""
    import pyarrow.parquet as pq

    from custom_vector_database_spark import VectorTable

    d = _rep_dir(ctx, i)
    os.makedirs(d, exist_ok=True)
    staging = os.path.join(d, "staging.parquet")
    pq.write_table(gen.vectors_table(np.arange(len(vecs)), vecs), staging)
    vt = VectorTable(ctx.spark, os.path.join(d, "table")).init(vecs.shape[1])
    vt.add(ctx.spark.read.parquet(staging))
    return vt


def _table_live(res: Result, vt, vecs: np.ndarray) -> LiveSet:
    """Read the table's Parquet files back, map each row to its generated
    vector via the metadata row number, and check the stored vectors are
    the inputs."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    t = pq.read_table(os.path.join(vt.path, "data"))
    n = pc.cast(pc.extract_regex(t["metadata"], r'"n":(?P<n>\d+)')
                .combine_chunks().field("n"), "int64").to_numpy()
    vec = t["vec"].combine_chunks()
    got = vec.flatten().to_numpy(zero_copy_only=False).reshape(len(t), -1)
    res.attempted += 1
    if len(t) != len(vecs) or not np.array_equal(got, vecs[n]):
        res.fail("VectorTable.add stored rows differ from the inputs")
    return LiveSet(t["id"].to_numpy(), got.astype(np.float32))


def _table_user_bytes(live: LiveSet) -> int:
    return len(live.ids) * stats.vector_row_bytes(live.vecs.shape[1]) + \
        gen.metadata_bytes(range(len(live.ids)))


# -- point_serve -------------------------------------------------------------

PS_N, PS_DIM, PS_MIX, PS_NLIST = 200_000, 64, 64, 256
PS_NPROBE = 8  # what VectorTable.search(exact=False) probes
PS_BLOCK = ("ann",) * 8 + ("exact", "get")  # the 80/10/10 mix, per block


def point_serve(ctx: Ctx) -> Result:
    """The reference's request surface on the VectorTable facade: ANN
    search, exact search and get by id over a saved IVF index."""
    tr, res = ctx.tracer, Result()
    mix, vecs = _vector_corpus(ctx, PS_N, PS_DIM, PS_MIX)
    t_gen, vt = _median_setup(ctx, lambda i: _load_table(ctx, i, vecs))
    live = _table_live(res, vt, vecs)
    ctx.info.update({"n_clusters": PS_NLIST, "nprobe": PS_NPROBE, "k": K,
                     "mix": "8 ann : 1 exact : 1 get per block of 10"})

    with tr.op("build"):
        t0 = time.perf_counter()
        vt.rebuild(kind="ivf", n_clusters=PS_NLIST)
        build_s = time.perf_counter() - t0

    rng = np.random.default_rng([ctx.seed, 2])
    t0 = time.perf_counter()
    vt.search(mix.sample(rng, 1)[0].tolist(), K, exact=False).collect()
    vt.search(mix.sample(rng, 1)[0].tolist(), K, exact=True).collect()
    vt.get(int(live.ids[0]))
    warm_s = time.perf_counter() - t0

    lat = {"ann": [], "exact": [], "get": []}
    answers = {"ann": [], "exact": []}
    gets = []
    deadline = time.perf_counter() + ctx.seconds
    while time.perf_counter() < deadline:
        for kind in rng.permutation(PS_BLOCK):
            kind = str(kind)
            res.attempted += 1
            if kind == "get":
                id_ = int(live.ids[rng.integers(0, len(live.ids))])
                t0 = time.perf_counter()
                try:
                    with tr.op("get"), tr.span("vector_table.get"):
                        row, found = vt.get(id_)
                except Exception as e:  # count and keep serving
                    res.fail(f"get: {e!r}")
                    continue
                lat["get"].append(time.perf_counter() - t0)
                gets.append((id_, row, found))
                continue
            q = mix.sample(rng, 1)[0]
            plan_layer = "ivf" if kind == "ann" else "knn"
            t0 = time.perf_counter()
            try:
                with tr.op(kind):
                    with tr.span("vector_table.search"):
                        df = vt.search(q.tolist(), K, exact=(kind == "exact"))
                    with tr.span(f"{plan_layer}.action"):
                        rows = [(r[0], r[1]) for r in df.collect()]
            except Exception as e:
                res.fail(f"{kind}: {e!r}")
                continue
            lat[kind].append(time.perf_counter() - t0)
            answers[kind].append((q, rows))
    done = sum(len(v) for v in lat.values())
    busy_s = sum(sum(v) for v in lat.values())

    recalls = _check_searches(res, live, answers["ann"], exact=False)
    _check_searches(res, live, answers["exact"], exact=True)
    pos = live.pos()
    for id_, row, found in gets:
        if not found or row["id"] != id_ or not np.array_equal(
            np.asarray(row["vec"], np.float32), live.vecs[pos[id_]]
        ):
            res.fail(f"get({id_}) did not return the stored vector")

    table_dir = vt.path
    res.metrics = {
        "setup_s": ctx.session_start_s + t_gen + warm_s,
        "build_s": build_s,
        "op_p50_ms": 1000.0 * stats.median(lat["ann"]),
        "rate_per_s": done / busy_s,
        "recall": float(np.mean(recalls)),
        "space_amp": stats.space_amp([table_dir], _table_user_bytes(live)),
    }
    res.extra = {f"{k}_latency": _latencies(v) for k, v in lat.items()}
    res.extra["requests"] = done
    if tr.enabled:
        res.layers = _layers(tr, primary="ann")
        res.layers["ivf.rows_scanned_per_query"] = _rows_scanned_per_result(
            os.path.join(table_dir, "index"), live,
            [q for q, _ in answers["ann"]], PS_NPROBE)
    return res


# -- churn -------------------------------------------------------------------

CH_N, CH_DIM, CH_MIX, CH_NLIST, CH_NPROBE = 20_000, 64, 32, 64, 8
CH_UPSERT, CH_DELETE, CH_SEARCHES, CH_COMPACT_EVERY = 1_000, 20, 8, 3
CH_POINT_WRITES = ("add", "update", "delete")
CH_EXTRA_BUILD_SEEDS = (43, 44)  # VectorTable.rebuild fits with seed 42


def churn(ctx: Ctx) -> Result:
    """Writes beside reads on a saved IVF layout: per cycle an upsert, a
    tombstone delete, one VectorTable point write and a few ANN searches;
    a compact after every CH_COMPACT_EVERY cycles."""
    import pandas as pd

    tr, res = ctx.tracer, Result()
    mix, vecs = _vector_corpus(ctx, CH_N, CH_DIM, CH_MIX)
    t_gen, vt = _median_setup(ctx, lambda i: _load_table(ctx, i, vecs))
    table = _table_live(res, vt, vecs)
    ctx.info.update({"n_clusters": CH_NLIST, "nprobe": CH_NPROBE, "k": K,
                     "upsert_rows": CH_UPSERT, "delete_ids": CH_DELETE,
                     "searches_per_cycle": CH_SEARCHES,
                     "compact_every_cycles": CH_COMPACT_EVERY})

    from custom_vector_database_spark.operators.ivf import IvfIndex

    with tr.op("build"):
        t0 = time.perf_counter()
        idx = vt.rebuild(kind="ivf", n_clusters=CH_NLIST)
        builds = [time.perf_counter() - t0]
    # a 64-list build varies by a tenth from run to run, so two more builds
    # of the same table, with other k-means seeds and thrown away, make
    # build_s a median of three
    for seed in CH_EXTRA_BUILD_SEEDS:
        out = os.path.join(ctx.work, f"build-{seed}")
        with tr.op("build"):
            t0 = time.perf_counter()
            IvfIndex.fit(vt.df(), n_clusters=CH_NLIST, seed=seed).save(out)
            builds.append(time.perf_counter() - t0)
        shutil.rmtree(out)
    build_s = stats.median(builds)
    index = LiveSet(table.ids.copy(), table.vecs.copy())
    rows_dir = os.path.join(idx._path, "rows")

    rng = np.random.default_rng([ctx.seed, 2])
    t0 = time.perf_counter()
    idx.search(mix.sample(rng, 1)[0].tolist(), K, nprobe=CH_NPROBE).collect()
    warm_s = time.perf_counter() - t0

    next_id = int(vt.meta.next_id) + 10_000_000  # index-only ids
    lat = {"search": [], "upsert": [], "delete": [], "write": [], "compact": []}
    queries, recalls, space, fpc, live_tomb, write_amp = [], [], [], [], [], []
    upserted, cycle, tombstoned = 0, 0, 0
    deadline = time.perf_counter() + ctx.seconds

    def timed(kind, fn, layer_span):
        res.attempted += 1
        t0 = time.perf_counter()
        try:
            with tr.op(kind), tr.span(layer_span):
                out = fn()
        except Exception as e:
            res.fail(f"{kind}: {e!r}")
            return None, False
        lat[kind].append(time.perf_counter() - t0)
        return out, True

    while time.perf_counter() < deadline:
        for _ in range(CH_COMPACT_EVERY):
            cycle += 1
            dv = mix.sample(rng, CH_UPSERT)
            dids = np.arange(next_id, next_id + CH_UPSERT, dtype=np.int64)
            next_id += CH_UPSERT
            delta = ctx.spark.createDataFrame(
                pd.DataFrame({"id": dids, "vec": list(dv)}),
                "id long, vec array<float>",
            )
            n, ok = timed("upsert", lambda: idx.upsert(delta), "ivf.upsert")
            if ok:
                index.add(dids, dv)
                upserted += CH_UPSERT
                if n != CH_UPSERT:
                    res.fail(f"upsert returned {n}, want {CH_UPSERT}")

            victims = rng.choice(index.ids, CH_DELETE, replace=False).tolist()
            n, ok = timed("delete", lambda: idx.delete(victims), "ivf.delete")
            if ok:
                index.remove(victims)
                tombstoned += CH_DELETE
                if n != CH_DELETE:
                    res.fail(f"delete returned {n}, want {CH_DELETE}")

            _point_write(ctx, res, vt, table, mix, rng, cycle, timed, write_amp)

            fpc.append(stats.files_per_cluster(rows_dir))
            live_tomb.append(tombstoned)
            for _ in range(CH_SEARCHES):
                q = mix.sample(rng, 1)[0]
                res.attempted += 1
                t0 = time.perf_counter()
                try:
                    with tr.op("search"):
                        df = idx.search(q.tolist(), K, nprobe=CH_NPROBE)
                        with tr.span("ivf.action"):
                            rows = [(r[0], r[1]) for r in df.collect()]
                except Exception as e:
                    res.fail(f"search: {e!r}")
                    continue
                lat["search"].append(time.perf_counter() - t0)
                queries.append(q)
                recalls += _check_searches(res, index, [(q, rows)], exact=False)
            space.append(stats.space_amp(
                [idx._path], len(index.ids) * stats.vector_row_bytes(CH_DIM)))

        stats_c, ok = timed("compact", lambda: idx.compact(), "ivf.compact")
        if ok:
            tombstoned = 0
            res.extra.setdefault("compact_files", []).append(
                (stats_c["files_before"], stats_c["files_after"]))
    # the write path's time: compaction is left out, its single sample per
    # run is too noisy to compare (ivf.compact_s reports it per layer)
    write_s = sum(sum(lat[k]) for k in ("upsert", "delete", "write"))

    _check_final_ids(res, "index", idx.clustered_df().select("id"), index.ids)
    _check_final_ids(res, "table", vt.df().select("id"), table.ids)

    res.metrics = {
        "setup_s": ctx.session_start_s + t_gen + warm_s,
        "build_s": build_s,
        "op_p50_ms": 1000.0 * stats.median(lat["search"]),
        "rate_per_s": upserted / write_s,
        "recall": float(np.mean(recalls)),
        "space_amp": float(np.mean(space)),
    }
    res.extra.update({f"{k}_latency": _latencies(v) for k, v in lat.items()})
    res.extra["cycles"] = cycle
    if tr.enabled:
        res.layers = _layers(tr, primary="search")
        res.layers.update({
            "ivf.files_per_cluster": float(np.mean(fpc)),
            "tombstones.live_count": float(np.mean(live_tomb)),
            "vector_table.write_amp": float(np.mean(write_amp)),
            "ivf.rows_scanned_per_query": _rows_scanned_per_result(
                idx._path, index, queries, CH_NPROBE),
        })
        files = res.extra.get("compact_files") or [(0, 0)]
        res.layers["layout.compact_files_before"] = float(np.mean([a for a, _ in files]))
        res.layers["layout.compact_files_after"] = float(np.mean([b for _, b in files]))
    return res


def _point_write(ctx, res, vt, table, mix, rng, cycle, timed, write_amp):
    """One VectorTable point write, rotating add / update / delete; the
    write amplification is table bytes rewritten per user byte changed."""
    kind = CH_POINT_WRITES[(cycle - 1) % len(CH_POINT_WRITES)]
    vec = mix.sample(rng, 1)[0]
    meta = '{"n":-1}'
    if kind == "add":
        out, ok = timed("write", lambda: vt.add([(vec.tolist(), meta)]),
                        "vector_table.add")
        if ok:
            table.add(out, vec[None, :])
    else:
        id_ = int(table.ids[rng.integers(0, len(table.ids))])
        if kind == "update":
            fn, span = (lambda: vt.update(id_, vec.tolist(), meta)), "vector_table.update"
        else:
            fn, span = (lambda: vt.delete(id_)), "vector_table.delete"
        out, ok = timed("write", fn, span)
        if ok:
            if out is not True:
                res.fail(f"{kind}({id_}) returned {out}")
            elif kind == "update":
                table.replace(id_, vec)
            else:
                table.remove([id_])
    changed = stats.vector_row_bytes(CH_DIM, len(meta))
    write_amp.append(stats.dir_bytes(os.path.join(vt.path, "data")) / changed)


def _check_final_ids(res: Result, what: str, df, want_ids) -> None:
    res.attempted += 1
    got = np.sort(np.asarray([r[0] for r in df.collect()], dtype=np.int64))
    if not np.array_equal(got, np.sort(want_ids)):
        res.fail(f"{what}: {len(got)} live ids differ from the "
                 f"{len(want_ids)} the benchmark expects")


# -- corpus_ingest -----------------------------------------------------------

CI_BASE, CI_DROP, CI_EXACT, CI_NEAR = 5_000, 400, 0.10, 0.20


def corpus_ingest(ctx: Ctx) -> Result:
    """Document drops with planted exact and near duplicates streamed
    into a corpus by stream_corpus_neardup_ingest under availableNow."""
    import hashlib
    import re

    import pyarrow.parquet as pq
    from pyspark.sql import types as T

    from custom_vector_database_spark.streaming import stream_ops

    tr, res = ctx.tracer, Result()
    schema = T.StructType([T.StructField("doc_id", T.LongType()),
                           T.StructField("text", T.StringType())])

    def make(i):
        stream = gen.DocStream(np.random.default_rng([ctx.seed, 1]))
        base = stream.base(CI_BASE)
        d = _rep_dir(ctx, i)
        os.makedirs(os.path.join(d, "corpus"))
        os.makedirs(os.path.join(d, "delta"))
        pq.write_table(gen.docs_table(base),
                       os.path.join(d, "corpus", "part-base.parquet"))
        ctx.spark.read.parquet(os.path.join(d, "corpus")).count()
        return stream, base

    t_gen, (stream, base) = _median_setup(ctx, make)
    corpus = os.path.join(_rep_dir(ctx, 0), "corpus")
    delta = os.path.join(_rep_dir(ctx, 0), "delta")
    ctx.info.update({"base_docs": CI_BASE, "docs_per_drop": CI_DROP,
                     "exact_dup_rate": CI_EXACT, "near_dup_rate": CI_NEAR,
                     "vocabulary": len(stream.vocab),
                     "doc_tokens": list(gen.DOC_LEN)})

    def ingest():
        return stream_ops.stream_corpus_neardup_ingest(
            ctx.spark, delta, corpus, doc_schema=schema,
            max_files_per_trigger=1)

    with tr.op("build"), tr.span("stream_ops.ingest"):
        t0 = time.perf_counter()
        ingest()  # empty delta: bootstraps the minhash sidecars
        build_s = time.perf_counter() - t0

    # warm-up drop: planted like the measured ones, ingested untimed
    drops = [stream.drop(CI_DROP // 5, CI_EXACT, CI_NEAR)]
    t0 = time.perf_counter()
    pq.write_table(gen.docs_table(drops[0]), os.path.join(delta, "drop-0000.parquet"))
    ingest()
    warm_s = time.perf_counter() - t0

    lat, offered = [], 0
    deadline = time.perf_counter() + ctx.seconds
    loop_s = 0.0
    while time.perf_counter() < deadline:
        drop = stream.drop(CI_DROP, CI_EXACT, CI_NEAR)
        drops.append(drop)
        res.attempted += 1
        pq.write_table(gen.docs_table(drop),
                       os.path.join(delta, f"drop-{len(drops):04d}.parquet"))
        t0 = time.perf_counter()
        try:
            with tr.op("ingest"), tr.span("stream_ops.ingest"):
                n_batches = ingest()
        except Exception as e:
            res.fail(f"ingest: {e!r}")
            continue
        dt = time.perf_counter() - t0
        loop_s += dt
        lat.append(dt)
        offered += len(drop.doc_ids)
        if n_batches != 1:
            res.fail(f"drop {len(drops)} applied {n_batches} micro-batches")

    final = ctx.spark.read.parquet(corpus).select("doc_id", "text").toPandas()
    kept = dict(zip(final["doc_id"].tolist(), final["text"].tolist()))

    def fp(text: str) -> str:
        norm = re.sub("[ ]+", " ", text.lower()).strip(" ")
        return hashlib.md5(norm.encode()).hexdigest()

    res.attempted += 1
    fps = [fp(t) for t in kept.values()]
    if len(set(fps)) != len(fps):
        res.fail("two surviving documents share a fingerprint")
    near = [i for d in drops for i in d.near_dup_ids]
    for d in [base] + drops:
        unique, exact = set(d.unique_ids), set(d.exact_dup_ids)
        for i, t in zip(d.doc_ids, d.texts):
            if i in unique and kept.get(i) != t:
                res.fail(f"unique document {i} lost or changed")
            if i in exact and i in kept:
                res.fail(f"exact duplicate {i} survived")
    live_bytes = sum(8 + len(t.encode()) for t in kept.values())
    sidecars = [os.path.join(corpus, n) for n in os.listdir(corpus)
                if n.startswith("_") and os.path.isdir(os.path.join(corpus, n))]

    res.metrics = {
        "setup_s": ctx.session_start_s + t_gen + warm_s,
        "build_s": build_s,
        "op_p50_ms": 1000.0 * stats.median(lat),
        "rate_per_s": offered / loop_s,
        "recall": sum(1 for i in near if i not in kept) / len(near),
        "space_amp": stats.space_amp([corpus], live_bytes),
    }
    res.extra = {"drop_latency": _latencies(lat), "drops": len(lat),
                 "docs_offered": offered, "near_dups_planted": len(near)}
    if tr.enabled:
        res.layers = _layers(tr, primary="ingest")
        applies = tr.durations("stream_ops.apply_batch")
        res.layers.update({
            "stream_ops.batches": float(len(tr.durations(
                "stream_ops.apply_batch", op_kind="ingest"))),
            "stream_ops.batch_s": stats.median(applies) if applies else 0.0,
            "stream_ops.sidecar_bytes": float(sum(stats.dir_bytes(p) for p in sidecars)),
        })
    return res


WORKLOADS = {
    "point_serve": point_serve,
    "churn": churn,
    "corpus_ingest": corpus_ingest,
}


# -- per-layer roll-up -------------------------------------------------------

SELF_LAYERS = ("bench", "vector_table", "ivf", "fitting", "knn", "layout",
               "stream_ops")


def _med(values, scale: float = 1.0) -> float:
    return scale * stats.median(values) if values else 0.0


def _layers(tr, primary: str) -> dict:
    """Per-layer numbers from the spans; a layer the workload never
    reaches reports 0."""
    per_op_load = tr.per_op_sum("ivf.load", "ann")
    ivf_search = [a + b for a, b in zip(
        [s for s, _ in tr.per_op_sum("ivf.search", primary)],
        [s for s, _ in tr.per_op_sum("ivf.action", primary)])]
    knn_exact = [a + b for (a, _), (b, _) in zip(
        tr.per_op_sum("knn.knn", "exact"), tr.per_op_sum("knn.action", "exact"))]
    out = {
        "vector_table.search_ms": _med(tr.durations("vector_table.search", "ann"), 1e3),
        "vector_table.get_ms": _med(tr.durations("vector_table.get", "get"), 1e3),
        "vector_table.write_ms": _med(tr.durations("bench.write"), 1e3),
        "ivf.load_ms": _med([s for s, _ in per_op_load], 1e3),
        "ivf.load_calls": float(np.mean([c for _, c in per_op_load])) if per_op_load else 0.0,
        "ivf.search_ms": _med(ivf_search, 1e3),
        "ivf.fit_s": _med(tr.durations("ivf.fit", "build")),
        "ivf.save_s": _med(tr.durations("ivf.save", "build")),
        "ivf.upsert_s": _med(tr.durations("ivf.upsert", "upsert")),
        "ivf.delete_ms": _med(tr.durations("ivf.delete", "delete"), 1e3),
        "ivf.compact_s": _med(tr.durations("ivf.compact", "compact")),
        "fitting.sample_s": _med(tr.durations("fitting.sample", "build")),
        "fitting.kmeans_s": _med(tr.durations("fitting.kmeans", "build")),
        "knn.exact_ms": _med(knn_exact, 1e3),
        "trace.op_p50_ms": _med(tr.durations(f"bench.{primary}"), 1e3),
    }
    rows = tr.counters(primary)
    for f in ("jobs", "tasks", "task_time_ms", "input_bytes", "shuffle_bytes",
              "driver_ms"):
        out[f"spark.{f}"] = _med([float(r[f]) for r in rows])
    ops = [r for r in tr.op_counters if r["kind"] != "build"]
    selfs = tr.self_times(
        exclude_ops={r["op"] for r in tr.op_counters if r["kind"] == "build"})
    for layer in SELF_LAYERS:
        out[f"{layer}.self_ms_per_op"] = (
            1000.0 * selfs.get(layer, 0.0) / len(ops) if ops else 0.0)
    return out

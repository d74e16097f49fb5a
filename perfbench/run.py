"""Serving benchmark for the vector engine over HTTP.

Run from the root of a checkout:

    python3 perfbench/run.py --workload hot --seed 1 --seconds 20 --trace 0

One run, in one process at ``local[nproc]``, with a fresh store root and
Spark local dir under ``.perfbench_work/``:

1. the corpus is generated in this process (perfbench/gen.py, the vectors of
   ``clustered_corpus``) and written to one parquet file, before timing;
2. set-up (``setup_s``): Spark session start, ``Engine`` construction, the
   bulk load of every library through ``EntityStore.write``, and the IVF
   build of ``big`` through ``IndexLifecycle.rebuild`` (``build_s``);
3. a fixed warm-up of HTTP requests, then a JVM GC;
4. the timed phase: one closed-loop client sends the seeded op sequence to
   the stdlib HTTP server (``api.http.create_stdlib_server`` -> ``Facade``
   -> ``Engine``) and checks every answer against numpy;
5. a JVM GC and the memory reading (``mem_mb``);
6. the state check: every library holds as many chunks as at the start.

With ``--trace 1`` every layer's public functions are wrapped (perfbench/
spans.py) and the run prints the per-layer metrics instead. Ops alternate
between traced and untraced, so the run also measures the tracing overhead.
The last line of stdout is the result JSON.
"""

from __future__ import annotations

import argparse
import gc
import http.client
import json
import os
import shlex
import shutil
import statistics
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import spans as tr  # noqa: E402

OPS = ("search_small", "search_big", "get", "list", "upsert", "delete")
ANSWER_TOL = 1e-6
BUILD = "pb-build"    # span op id and Spark job group of the IVF build
RECALL_QUERIES = 100


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=gen.WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, default=gen.BASE_SECONDS)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def prepare_env(root: str) -> str:
    """Per-run work dir under the checkout; Spark, Java and Python temp
    files all go there. Must run before the JVM starts."""
    work = os.path.join(root, ".perfbench_work", f"run-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--driver-memory 2g --driver-java-options "
        + shlex.quote(f"-Djava.io.tmpdir={tmp}") + " pyspark-shell")
    return work


def start_spark(work: str):
    from vector_db_api_spark.session import get_spark

    cpus = len(os.sched_getaffinity(0))
    spark = get_spark(
        "perfbench", master=f"local[{cpus}]", shuffle_partitions=cpus,
        extra_conf={
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


# -- corpus ------------------------------------------------------------------

def write_corpus(mats: dict, path: str) -> None:
    """The generated vectors as one parquet file (lib, id, embedding)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    libs = [lib for lib in mats for _ in range(len(mats[lib]))]
    ids = np.concatenate([np.arange(len(m)) for m in mats.values()])
    flat = np.concatenate([m.reshape(-1) for m in mats.values()])
    emb = pa.FixedSizeListArray.from_arrays(pa.array(flat, pa.float32()), gen.DIM)
    pq.write_table(pa.table({"lib": libs, "id": ids,
                             "embedding": emb.cast(pa.list_(pa.float32()))}), path)


def load_frames(spark, corpus):
    from pyspark.sql import functions as F

    ts = F.lit("2024-01-01 00:00:00").cast("timestamp")
    meta = F.struct(
        *[F.lit(None).cast("string").alias(c) for c in ("source_uri", "author", "lang", "mime_type")],
        F.array(F.concat(F.lit("t"), (F.col("id") % gen.TAGS).cast("string"))).alias("tags"),
        F.lit(None).cast("int").alias("page_number"),
        F.lit(None).cast("int").alias("token_count"),
        F.lit(None).cast("string").alias("sha256"),
    )
    chunks = corpus.select(
        F.concat(F.col("lib"), F.lit("-c"), F.lpad(F.col("id").cast("string"), 6, "0")).alias("id"),
        F.col("lib").alias("library_id"),
        F.concat(F.col("lib"), F.lit("-d"),
                 F.lpad((F.col("id") / gen.CHUNKS_PER_DOC).cast("int").cast("string"), 4, "0")
                 ).alias("document_id"),
        (F.col("id") % gen.CHUNKS_PER_DOC).cast("int").alias("position"),
        F.concat(F.lit("chunk "), F.col("id").cast("string")).alias("text"),
        F.col("embedding"), meta.alias("metadata"),
        ts.alias("created_at"), ts.alias("updated_at"), F.lit(1).alias("version"),
    )
    docs = chunks.select(F.col("document_id").alias("id"), "library_id").distinct().select(
        "id", "library_id",
        F.lit(None).cast("struct<source_uri:string,author:string,lang:string,mime_type:string,"
                         "tags:array<string>,title:string,summary:string,sha256:string>"
                         ).alias("metadata"),
        ts.alias("created_at"), ts.alias("updated_at"), F.lit(1).alias("version"),
    )
    rows = []
    for lib in [gen.BIG] + gen.small_libs():
        ivf = lib == gen.BIG
        rows.append((lib, lib, gen.DIM,
                     ("ivf" if ivf else "flat", 0, 0,
                      gen.IVF["num_centroids"] if ivf else 0,
                      gen.IVF["nprobe"] if ivf else 0, 20 if ivf else 0, "idonly"),
                     None, None, None, 1))
    from vector_db_api_spark.sources.store import LIBRARIES_DDL

    libs = spark.createDataFrame(rows, LIBRARIES_DDL).withColumn(
        "created_at", ts).withColumn("updated_at", ts)
    return libs, docs, chunks


def load(spark, store_root: str, corpus):
    """Engine construction + bulk load; returns (engine, seconds)."""
    from vector_db_api_spark.api.service import Engine

    libs, docs, chunks = load_frames(spark, corpus)
    t0 = time.perf_counter()
    engine = Engine(spark, store_root)
    engine.store.write("libraries", libs)
    engine.store.write("documents", docs)
    engine.store.write("chunks", chunks)
    return engine, time.perf_counter() - t0


# -- serving -------------------------------------------------------------------

class Model:
    """The client's view of the live data: answer keys for every op.

    For ``big`` it also holds the live IVF index as stored by the program:
    the centroids (probed with the program's own ``IVFIndex.probe_centroids``)
    and each chunk's cell. An IVF search re-ranks every live candidate of
    the probed cells exactly, so its answer is fully determined."""

    def __init__(self, mats):
        self.mats = {lib: m.astype("float64") for lib, m in mats.items()}
        self.ids = {lib: [gen.chunk_id(lib, i) for i in range(len(m))] for lib, m in mats.items()}
        self.ivf = self.cells = None

    def read_index(self, engine) -> None:
        import numpy as np
        import pyarrow.dataset as ds

        from vector_db_api_spark.operators.ivf import IVFIndex

        desc = engine.indexes.current(gen.BIG)
        vdir = os.path.join(engine.indexes.root, gen.BIG, f"v={desc['version']}")
        cent = ds.dataset(os.path.join(vdir, "ivf_centroids")).to_table().to_pydict()
        order = np.argsort(cent["centroid_id"])
        self.ivf = IVFIndex(np.asarray(cent["vec"])[order], nprobe=desc["params"]["nprobe"])
        post = ds.dataset(os.path.join(vdir, "ivf_assignments"),
                          partitioning="hive").to_table().to_pydict()
        cell = dict(zip(post["id"], post["centroid_id"]))
        self.cells = np.asarray([cell[c] for c in self.ids[gen.BIG]])

    def add(self, lib, cid, vec):
        import numpy as np

        # the engine stores float32 embeddings
        row = np.asarray([vec], np.float32).astype(np.float64)
        self.mats[lib] = np.vstack([self.mats[lib], row])
        self.ids[lib] = self.ids[lib] + [cid]
        if lib == gen.BIG:  # the program's assign: nearest centroid by dot
            v = np.asarray(vec, dtype=np.float64)
            cell = int(np.argmax(self.ivf.centroids @ (v / np.linalg.norm(v))))
            self.cells = np.append(self.cells, cell)

    def remove(self, lib, cid):
        import numpy as np

        i = self.ids[lib].index(cid)
        self.mats[lib] = np.delete(self.mats[lib], i, axis=0)
        self.ids[lib] = self.ids[lib][:i] + self.ids[lib][i + 1:]
        if lib == gen.BIG:
            self.cells = np.delete(self.cells, i)

    def topk(self, lib, q, tag=None, exact=False):
        """Top-10 as the engine answers it; ``exact`` forces a full scan
        on ``big`` (the recall reference)."""
        import numpy as np

        mat, ids = self.mats[lib], self.ids[lib]
        if lib == gen.BIG and not exact:
            keep = np.isin(self.cells, self.ivf.probe_centroids(q))
            mat, ids = mat[keep], [c for c, k in zip(ids, keep) if k]
        got, scores = gen.exact_topk(mat, ids, q)
        if tag is None:
            return got, scores
        keep = [j for j, c in enumerate(got) if self.has_tag(c, tag)]
        return [got[j] for j in keep], [scores[j] for j in keep]

    def recall(self, queries) -> float:
        """Mean recall@10 of the live IVF index against exact search."""
        hits = [len(set(self.topk(gen.BIG, q)[0]) & set(self.topk(gen.BIG, q, exact=True)[0]))
                for q in queries]
        return sum(hits) / (gen.K * len(queries))

    @staticmethod
    def has_tag(cid, tag):
        # generated chunks carry t{i % TAGS}; upserted ones carry none
        tail = cid.rsplit("-c", 1)
        return len(tail) == 2 and tail[1].isdigit() and f"t{int(tail[1]) % gen.TAGS}" == tag


def request(port, method, path, body=None):
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
    payload = json.dumps(body).encode() if body is not None else None
    headers = {"Content-Type": "application/json"} if payload else {}
    t0 = time.perf_counter()
    conn.request(method, path, body=payload, headers=headers)
    resp = conn.getresponse()
    raw = resp.read()
    dt = time.perf_counter() - t0
    conn.close()
    return resp.status, (json.loads(raw) if raw else None), dt


def send(port, op):
    kind = op["op"]
    if kind.startswith("search"):
        body = {"query_embedding": op["q"], "k": gen.K}
        if "tag" in op:
            body["filters"] = {"tags": [op["tag"]]}
        return request(port, "POST", f"/libraries/{op['lib']}/search", body)
    if kind == "get":
        return request(port, "GET", f"/chunks/{op['id']}")
    if kind == "list":
        return request(port, "GET", f"/libraries/{op['lib']}/documents?limit=10")
    if kind == "upsert":
        return request(port, "POST", f"/libraries/{op['lib']}/documents/{op['doc']}/chunks",
                       {"id": op["id"], "text": f"upserted {op['id']}", "embedding": op["vec"]})
    return request(port, "DELETE",
                   f"/libraries/{op['lib']}/documents/{op['doc']}/chunks/{op['id']}")


def check(model, op, status, body):
    """True when the answer is right; updates the model for writes."""
    kind = op["op"]
    if kind == "upsert":
        ok = status == 200 and body["data"]["id"] == op["id"]
        if ok:
            model.add(op["lib"], op["id"], op["vec"])
        return ok
    if kind == "delete":
        ok = status == 204
        if ok:
            model.remove(op["lib"], op["id"])
        return ok
    if status != 200:
        return False
    data = body["data"]
    if kind == "get":
        lib = op["lib"]
        i = int(op["id"].rsplit("-c", 1)[1])
        return (data["id"] == op["id"] and data["library_id"] == lib
                and data["document_id"] == gen.doc_id(lib, i // gen.CHUNKS_PER_DOC))
    if kind == "list":
        want = [gen.doc_id(op["lib"], j) for j in range(10)]
        return [d["id"] for d in data["items"]] == want and data["has_more"] is True
    got = [h["chunk_id"] for h in data["hits"]]
    scores = [h["score"] for h in data["hits"]]
    exp_ids, exp_scores = model.topk(op["lib"], op["q"], op.get("tag"))
    if "first" in op and got[:1] != [op["first"]]:
        return False
    if "absent" in op and op["absent"] in got:
        return False
    return gen.topk_matches(got, scores, exp_ids, exp_scores, ANSWER_TOL)


def jvm_gc(spark) -> None:
    gc.collect()
    spark.sparkContext._jvm.System.gc()


def mem_mb(spark) -> float:
    """Python VmHWM plus JVM heap used after a forced GC (the least of three
    GC-then-read cycles, so allocations racing the read do not count)."""
    rt = spark.sparkContext._jvm.java.lang.Runtime.getRuntime()
    heaps = []
    for _ in range(3):
        jvm_gc(spark)
        heaps.append(rt.totalMemory() - rt.freeMemory())
    heap = min(heaps)
    with open("/proc/self/status") as f:
        hwm_kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM"))
    log(f"python VmHWM {hwm_kb / 1024.0:.0f} MB, JVM heap used {heap / 2**20:.0f} MB")
    return hwm_kb / 1024.0 + heap / 2**20


def serve(port, ops, model, tracer=None, on_op=None):
    """Send ``ops`` in a closed loop. Returns per-op records."""
    records = []
    for n, op in enumerate(ops):
        if on_op is not None:
            on_op(n, op)
        try:
            status, body, dt = send(port, op)
            ok = check(model, op, status, body)
        except Exception as e:  # a failed op is counted, not fatal
            log(f"op {n} {op['op']} failed: {type(e).__name__}: {e}")
            status, dt, ok = -1, 0.0, False
        if tracer is not None:
            tracer.active = False
        records.append({"n": n, "op": op["op"], "ms": dt * 1000.0, "ok": ok,
                        "status": status, "check": "first" in op or "absent" in op})
    return records


def live_counts(engine) -> dict:
    rows = engine.store.read("chunks").groupBy("library_id").count().collect()
    return {r["library_id"]: r["count"] for r in rows}


# -- metrics -----------------------------------------------------------------

def p50(xs):
    return statistics.median(xs) if xs else float("nan")


def end_to_end(records, setup_s, build_s, timed_s, recall, mem, ok, attempted):
    # searches that check a write are answer checks, not latency samples
    by = {c: [r["ms"] for r in records if r["op"] == c and r["ok"] and not r["check"]]
          for c in OPS}
    return {
        "setup_s": (setup_s, "s"),
        "ops_per_s": (len(records) / timed_s, "1/s"),
        "search_small_p50_ms": (p50(by["search_small"]), "ms"),
        "search_big_p50_ms": (p50(by["search_big"]), "ms"),
        "get_p50_ms": (p50(by["get"]), "ms"),
        "upsert_p50_ms": (p50(by["upsert"]), "ms"),
        "delete_p50_ms": (p50(by["delete"]), "ms"),
        "recall_at_10": (recall, "frac"),
        "ops_ok_frac": (ok / attempted, "frac"),
        "mem_mb": (mem, "MB"),
        "build_s": (build_s, "s"),
    }


LAYER_SELF = {  # layer -> op classes whose self time is reported
    "facade": OPS, "service": ("search_small", "search_big", "list", "upsert", "delete"),
    "lifecycle": ("search_small", "search_big", "upsert", "delete"),
    "store": OPS,
}


def per_layer(spark, tracer, records, op_class):
    """Per-layer metrics from the traced ops (median over ops of a class)."""
    totals = tr.op_layer_totals(tracer.spans, op_class)
    traced = [r for r in records if r["n"] in op_class and r["ok"]]
    out, vals = {}, {}

    def add(name, unit, xs):
        vals.setdefault(name, (unit, []))[1].extend(xs)

    for r in traced:
        c, d = r["op"], totals[r["n"]]
        add(f"http.self_ms.{c}", "ms", [r["ms"] - d[("facade", "ms")]])
        for layer, classes in LAYER_SELF.items():
            if c in classes:
                add(f"{layer}.self_ms.{c}", "ms", [d[(layer, "self")]])
        add(f"store.reads.{c}", "count", [d[("store.read", "calls")]])
        add(f"fsio.json_reads.{c}", "count", [d[("fsio.read_json", "calls")]])
        if c in ("upsert", "delete"):
            add(f"fsio.json_writes.{c}", "count", [d[("fsio.write_json_atomic", "calls")]])
            add(f"bloom.ms.{c}", "ms", [d[("bloom", "ms")]])
        if c == "search_small":
            add("knn.construct_ms.search_small", "ms", [d[("knn", "ms")]])
        if c == "search_big":
            add("ivf.construct_ms.search_big", "ms", [d[("ivf.search", "ms")]])
        add(f"spark.action_ms.{c}", "ms", [d[("spark", "ms")]])
        for k, v in tr.spark_counts(spark.sparkContext, f"pb-{r['n']}").items():
            if k != "shuffle_bytes":
                add(f"spark.{k}.{c}", "ms" if k == "run_ms" else "count", [v])
    d = totals[BUILD]
    add("lifecycle.self_ms.build", "ms", [d[("lifecycle", "self")]])
    add("ivf.train_ms.build", "ms", [d[("ivf.train", "ms")]])
    add("ivf.assign_ms.build", "ms", [d[("ivf.assign", "ms")]])
    add("spark.action_ms.build", "ms", [d[("spark", "ms")]])
    for k, v in tr.spark_counts(spark.sparkContext, BUILD).items():
        if k != "shuffle_bytes":  # the build shuffles nothing
            add(f"spark.{k}.build", "ms" if k == "run_ms" else "count", [v])
    for name, (unit, xs) in vals.items():
        out[name] = (statistics.median(xs), unit)
    return out


def self_time_check(tracer, records, op_class, cls="search_small"):
    """Per traced op of ``cls``: the layers' self times plus the HTTP self
    time must add up to the client latency. Returns (ok, sum of per-layer
    medians, client median)."""
    totals = tr.op_layer_totals(tracer.spans, op_class)
    rows = [r for r in records if r["op"] == cls and r["n"] in op_class and r["ok"]]
    ok, per_layer_ms = True, {}
    for r in rows:
        d = totals[r["n"]]
        selfs = {k[0]: v for k, v in d.items() if k[1] == "self"}
        selfs["http"] = r["ms"] - d[("facade", "ms")]
        ok &= abs(sum(selfs.values()) - r["ms"]) < 1e-6
        for layer, v in selfs.items():
            per_layer_ms.setdefault(layer, []).append(v)
    layer_sum = sum(statistics.median(v) for v in per_layer_ms.values())
    return ok and bool(rows), layer_sum, p50([r["ms"] for r in rows])


def stop(spark, server) -> None:
    if server is not None:
        server.shutdown()
        server.server_close()
    if spark is None:
        return
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        # the JVM exits when its stdin closes; its Python workers go with it
        if proc.stdin:
            proc.stdin.close()
        proc.wait(timeout=60)


def run(args, work: str) -> dict:
    from vector_db_api_spark.api.facade import Facade
    from vector_db_api_spark.api.http import create_stdlib_server
    from vector_db_api_spark.lifecycle import IndexConfig

    state = {"spark": None, "server": None}
    tracer = tr.Tracer() if args.trace else None
    try:
        mats = gen.corpus(args.seed)
        write_corpus(mats, os.path.join(work, "corpus.parquet"))
        t0 = time.perf_counter()
        spark = state["spark"] = start_spark(work)
        session_s = time.perf_counter() - t0
        sc = spark.sparkContext

        def group(name):
            if name:
                sc.setJobGroup(name, name)
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)

        if tracer:
            tracer.install(on_facade_enter=lambda: group(f"pb-{tracer.op}"))

        corpus = spark.read.parquet(os.path.join(work, "corpus.parquet"))
        model = Model(mats)
        counts = gen.counts_for(args.seconds)
        ops = gen.build_ops(args.seed, args.workload, mats, counts)
        warm = gen.build_ops(args.seed + 7919, args.workload, mats, gen.WARMUP_COUNTS, "pw")
        print(f"ops digest {gen.digest(ops)} ({len(ops)} timed ops, {len(warm)} warm-up)")

        log(f"session {session_s:.1f}s")
        engine, load_s = load(spark, os.path.join(work, "store"), corpus)
        op_class = {}
        if tracer:
            tracer.op, tracer.active = BUILD, True
            op_class[BUILD] = "build"
            group(BUILD)
        t1 = time.perf_counter()
        engine.indexes.rebuild(
            gen.BIG, engine.store.read("chunks", partitions=[gen.BIG]),
            IndexConfig("ivf", dict(gen.IVF)), gen.DIM)
        build_s = time.perf_counter() - t1
        if tracer:
            tracer.active = False
            group(None)
        setup_s = session_s + load_s + build_s
        log(f"load {load_s:.1f}s, build {build_s:.1f}s")
        model.read_index(engine)

        server = state["server"] = create_stdlib_server(Facade(engine))
        threading.Thread(target=server.serve_forever, daemon=True).start()
        port = server.server_address[1]
        t2 = time.perf_counter()
        serve(port, warm, model)
        jvm_gc(spark)
        log(f"warm-up {time.perf_counter() - t2:.1f}s")

        seen = dict.fromkeys(OPS, 0)

        def on_op(n, op):
            # traced runs alternate traced and untraced ops of each class
            seen[op["op"]] += 1
            if tracer and seen[op["op"]] % 2 == 1:
                tracer.op, tracer.active = n, True
                op_class[n] = op["op"]

        t2 = time.perf_counter()
        records = serve(port, ops, model, tracer, on_op)
        timed_s = time.perf_counter() - t2
        mem = mem_mb(spark)
        log(f"timed phase {timed_s:.1f}s")

        recall = model.recall(gen.batch_queries(args.seed, mats[gen.BIG], RECALL_QUERIES))
        want = {lib: len(m) for lib, m in mats.items()}
        got = live_counts(engine)
        state_ok = got == want
        if not state_ok:
            log(f"live chunk counts changed: {got} != {want}")
        attempted = len(records)
        ok = sum(r["ok"] for r in records)
        correct = ok == attempted and state_ok
        for r in records:
            if not r["ok"]:
                log(f"wrong answer: op {r['n']} {r['op']} status {r['status']}")

        print("latency samples: " + json.dumps(
            {c: sum(r["op"] == c and r["ok"] and not r["check"] for r in records) for c in OPS}))
        if not tracer:
            metrics = end_to_end(records, setup_s, build_s, timed_s, recall, mem, ok, attempted)
        else:
            metrics = per_layer(spark, tracer, records, op_class)
            sums_ok, layer_sum, client = self_time_check(tracer, records, op_class)
            correct &= sums_ok
            print(f"search_small: per-layer self-time medians sum to {layer_sum:.1f} ms, "
                  f"client median {client:.1f} ms (per-op sums exact: {sums_ok})")
            overhead = {}
            for c in OPS:
                on = [r["ms"] for r in records if r["op"] == c and r["ok"] and r["n"] in op_class]
                off = [r["ms"] for r in records if r["op"] == c and r["ok"] and r["n"] not in op_class]
                if on and off:
                    overhead[c] = p50(on) - p50(off)
            print("tracing overhead (traced p50 - untraced p50, ms): "
                  + json.dumps({c: round(v, 1) for c, v in overhead.items()}))
            write_spans(args, tracer, op_class, overhead)
        return {"correct": bool(correct), "attempted": attempted, "failed": attempted - ok,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}
    finally:
        if tracer:
            tracer.uninstall()
        stop(state["spark"], state["server"])


def write_spans(args, tracer, op_class, overhead) -> None:
    out = os.path.join(os.getcwd(), ".perfbench_work", "traces")
    os.makedirs(out, exist_ok=True)
    spans = [{"op": s.op, "class": op_class.get(s.op), "layer": s.layer, "name": s.name,
              "t0": s.t0, "t1": s.t1} for s in tracer.spans if s.t1 is not None]
    path = os.path.join(out, f"{args.workload}-seed{args.seed}.json")
    with open(path, "w") as f:
        json.dump({"overhead_ms": overhead, "spans": spans}, f)
    print(f"spans written to {os.path.relpath(path)}")


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "vector_db_api_spark", "api", "http.py")):
        log("vector_db_api_spark not found: run from the root of a checkout")
        return 2
    sys.path.insert(0, root)
    work = prepare_env(root)
    try:
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

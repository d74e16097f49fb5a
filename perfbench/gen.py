"""Seeded inputs and answer keys for the serving benchmark (numpy only).

Everything a run sends is built here from ``--seed`` before timing starts:
query vectors, chunk ids to fetch, libraries to list, the vectors of the
chunks a run upserts and later deletes, and their order. ``digest`` hashes
the sequence so two runs can be shown to have run the same operations.
"""

from __future__ import annotations

import hashlib
import json

import numpy as np

DIM = 64
CHUNKS_PER_DOC = 50
BIG = "big"
BIG_ROWS = 10_000
SMALL_LIBS = 2
SMALL_ROWS = 2_000
IVF = {"num_centroids": 64, "nprobe": 4}
K = 10
TAGS = 7          # chunk i carries tag "t{i % TAGS}"
TAG_EVERY = 7     # one search in seven carries a tag post-filter
QUERY_NOISE = 0.02
ZIPF_S = 1.1
POOL = 3          # distinct query vectors / ids per target in the hot workload

# op counts of the timed phase at BASE_SECONDS; other --seconds scale them
BASE_SECONDS = 20
BASE_COUNTS = {"search_small": 6, "search_big": 5, "get": 10, "list": 1, "pair": 1}
MIN_COUNTS = {"search_small": 2, "search_big": 1, "get": 2, "list": 1, "pair": 1}
WARMUP_COUNTS = {"search_small": 3, "search_big": 3, "get": 2, "list": 1, "pair": 0}

WORKLOADS = ("hot", "cold")


def small_libs() -> list[str]:
    return [f"s{i}" for i in range(SMALL_LIBS)]


def chunk_id(lib: str, i: int) -> str:
    return f"{lib}-c{i:06d}"


def doc_id(lib: str, j: int) -> str:
    return f"{lib}-d{j:04d}"


def lib_rows(lib: str) -> int:
    return BIG_ROWS if lib == BIG else SMALL_ROWS


def counts_for(seconds: int) -> dict:
    scale = seconds / BASE_SECONDS
    return {k: max(MIN_COUNTS[k], round(v * scale)) for k, v in BASE_COUNTS.items()}


def unit(v: np.ndarray) -> np.ndarray:
    return v / np.linalg.norm(v, axis=-1, keepdims=True)


def exact_topk(mat: np.ndarray, ids: list[str], q, k: int = K):
    """Exact cosine top-k as (ids, scores), ordered by (-score, id) — the
    engine's tie order. Scores are computed in float64."""
    m = np.asarray(mat, dtype=np.float64)
    qv = np.asarray(q, dtype=np.float64)
    norms = np.linalg.norm(m, axis=1) * np.linalg.norm(qv)
    scores = np.divide(m @ qv, norms, out=np.zeros(len(m)), where=norms > 0)
    if len(ids) > k:  # every row scoring at least the k-th best, ties included
        top = np.flatnonzero(scores >= np.partition(scores, len(ids) - k)[len(ids) - k])
    else:
        top = range(len(ids))
    order = sorted(top, key=lambda i: (-scores[i], ids[i]))[:k]
    return [ids[i] for i in order], [float(scores[i]) for i in order]


def topk_matches(got_ids, got_scores, exp_ids, exp_scores, tol=1e-6) -> bool:
    """Same ids in the same order with scores within ``tol``; ids whose exact
    scores tie (within 1e-9) may swap places."""
    if len(got_ids) != len(exp_ids) or set(got_ids) != set(exp_ids):
        return False
    pos = {e: i for i, e in enumerate(exp_ids)}
    return all(
        abs(gs - exp_scores[i]) <= tol and abs(exp_scores[pos[g]] - exp_scores[i]) <= 1e-9
        for i, (g, gs) in enumerate(zip(got_ids, got_scores))
    )


def clustered(n_rows: int, n_clusters: int, spread: float, seed: int) -> np.ndarray:
    """(n_rows, DIM) float32: the vectors ``sources.synthetic_vectors.
    clustered_corpus`` yields for the same arguments (row i from
    ``default_rng([seed, i])``), computed in this process so no Spark job
    or Python worker runs before the timed set-up."""
    rng = np.random.default_rng([seed, n_clusters])
    centers = rng.standard_normal((n_clusters, DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    out = np.empty((n_rows, DIM), dtype=np.float64)
    for i in range(n_rows):
        out[i] = centers[i % n_clusters] + spread * np.random.default_rng([seed, i]).standard_normal(DIM)
    out /= np.linalg.norm(out, axis=1, keepdims=True)
    return out.astype(np.float32)


def corpus(seed: int) -> dict:
    """library -> (rows, DIM) float32 matrix; row i is chunk_id(lib, i)."""
    mats = {BIG: clustered(BIG_ROWS, 16, 0.25, seed)}
    small = clustered(SMALL_LIBS * SMALL_ROWS, 32, 0.3, seed + 1)
    for j, lib in enumerate(small_libs()):
        mats[lib] = small[j * SMALL_ROWS:(j + 1) * SMALL_ROWS]
    return mats


def _zipf_weights(n: int, s: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** s
    return w / w.sum()


def _query(rng, mat: np.ndarray) -> list[float]:
    v = mat[rng.integers(len(mat))].astype(np.float64)
    return [float(x) for x in unit(v + QUERY_NOISE * rng.standard_normal(DIM))]


def build_ops(seed: int, workload: str, mats: dict, counts: dict,
              new_prefix: str = "pb") -> list[dict]:
    """The op sequence of one phase. ``mats`` maps library -> (n, DIM)
    float32 matrix whose row i is chunk ``chunk_id(lib, i)``.

    ``hot``: small libraries picked by Zipf(ZIPF_S) popularity, searches and
    gets drawn from a pool of POOL repeated targets per library. ``cold``:
    libraries picked uniformly, every query vector and chunk id distinct.
    Each write pair is an upsert of a new chunk into ``big``, a search for
    its vector (expected first), later its delete and a search for the same
    vector (expected absent), so the store ends as it started."""
    if workload not in WORKLOADS:
        raise ValueError(f"unknown workload {workload!r}")
    rng = np.random.default_rng([seed, WORKLOADS.index(workload)])
    libs = small_libs()
    hot = workload == "hot"
    weights = _zipf_weights(len(libs), ZIPF_S) if hot else np.full(len(libs), 1 / len(libs))
    lib_order = rng.permutation(len(libs))  # which library is the Zipf head
    pools = {
        lib: [_query(rng, mats[lib]) for _ in range(POOL)] for lib in libs + [BIG]
    }
    id_pool = [(lib, int(rng.integers(lib_rows(lib)))) for lib in libs + [BIG]]

    def pick_lib() -> str:
        return libs[lib_order[rng.choice(len(libs), p=weights)]]

    def query(lib: str) -> list[float]:
        return pools[lib][int(rng.integers(POOL))] if hot else _query(rng, mats[lib])

    reads: list[dict] = []
    for n in range(counts["search_small"]):
        lib = pick_lib()
        reads.append({"op": "search_small", "lib": lib, "q": query(lib)})
    for n in range(counts["search_big"]):
        reads.append({"op": "search_big", "lib": BIG, "q": query(BIG)})
    for n in range(counts["get"]):
        if hot:
            lib, i = id_pool[int(rng.integers(len(id_pool)))]
        else:
            lib = BIG if n % 2 else pick_lib()
            i = int(rng.integers(lib_rows(lib)))
        reads.append({"op": "get", "lib": lib, "id": chunk_id(lib, i)})
    for n in range(counts["list"]):
        reads.append({"op": "list", "lib": pick_lib()})
    reads = [reads[i] for i in rng.permutation(len(reads))]
    searches = [r for r in reads if r["op"].startswith("search")]
    for n, r in enumerate(searches):
        if n % TAG_EVERY == TAG_EVERY - 1:
            r["tag"] = f"t{int(rng.integers(TAGS))}"

    # write pairs: evenly spread after the first reads; each delete lands
    # half a gap after its upsert
    pairs = counts["pair"]
    slots = len(reads) + 1
    ops: list[dict] = []
    at_up = {round((2 * p + 1) * slots / (2 * pairs + 1)): p for p in range(pairs)}
    at_del = {round((2 * p + 2) * slots / (2 * pairs + 1)): p for p in range(pairs)}
    new = []
    for p in range(pairs):
        base = mats[BIG][rng.integers(BIG_ROWS)].astype(np.float64)
        vec = [float(x) for x in unit(base + 0.1 * rng.standard_normal(DIM))]
        doc = doc_id(BIG, int(rng.integers(BIG_ROWS // CHUNKS_PER_DOC)))
        new.append({"id": f"{new_prefix}-{seed}-{p}", "doc": doc, "vec": vec})
    for pos in range(slots + 1):
        if pos in at_del:
            w = new[at_del[pos]]
            ops.append({"op": "delete", "lib": BIG, "id": w["id"], "doc": w["doc"]})
            ops.append({"op": "search_big", "lib": BIG, "q": w["vec"], "absent": w["id"]})
        if pos in at_up:
            w = new[at_up[pos]]
            ops.append({"op": "upsert", "lib": BIG, "id": w["id"], "doc": w["doc"],
                        "vec": w["vec"]})
            ops.append({"op": "search_big", "lib": BIG, "q": w["vec"], "first": w["id"]})
        if pos < len(reads):
            ops.append(reads[pos])
    return ops


def digest(ops: list[dict]) -> str:
    return hashlib.sha256(json.dumps(ops, sort_keys=True).encode()).hexdigest()[:16]


def batch_queries(seed: int, mat: np.ndarray, n: int) -> list[list[float]]:
    """``n`` seeded queries near ``mat``'s rows, apart from the op sequence."""
    rng = np.random.default_rng([seed, 99])
    return [_query(rng, mat) for _ in range(n)]

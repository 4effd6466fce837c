"""Seeded input generator for the store-serving benchmark.

``make_workload(name, seed)`` returns the initial store contents and a
lazy op stream. The engine sees only what is generated here. The stream
holds the oracle's model of each store and applies every write op to it
as the op is yielded, so a read is checked against the model state at
the moment it runs, and each write carries the counts the engine must
report.

Op types follow a fixed smooth interleave of the workload's mix (a
smooth weighted round-robin over a 20-op cycle), so every window of k
consecutive ops has nearly the same composition whatever the seed; the
seed draws the stores and every op's arguments.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Iterator, List, Optional

import numpy as np

from oracle import StoreModel, key_ids, stub_embed

DECK = 20

# op type -> (share of a 20-op deck, read|write)
MIXES = {
    "point_dsl": {
        "getkey": (5, "read"), "getpred": (4, "read"), "simn": (4, "read"),
        "ann": (2, "read"), "simn_where": (3, "read"), "ai_simn": (2, "read"),
    },
    "scan_topk": {
        "exact_cos": (7, "read"), "exact_euc": (3, "read"), "ann": (6, "read"),
        "batch_ann": (3, "read"), "batch_exact": (1, "read"),
    },
    "ingest_mixed": {
        "set": (7, "write"), "delkey": (2, "write"), "upsert": (1, "write"),
        "simn": (6, "read"), "getkey": (4, "read"),
    },
}

SIZES = {
    # rows, dimension of the vector store
    "point_dsl": (10_000, 128),
    "scan_topk": (8_192, 384),
    "ingest_mixed": (10_000, 128),
}
ANN_SIZE = (8_192, 128)  # point_dsl's hnsw store: twice the brute-force threshold
AI_SENTENCES = 2_000
AI_MODEL = "all-minilm-l6-v2"
AI_DIM = 384
N_CATS = 50
HOT = 1_000
ZIPF_S = 1.1
CENTROIDS = 64
SPREAD = 0.5      # within-cluster noise, relative to centroid scale
PROBE_NOISE = 0.15
SET_ROWS, SET_RESETS, DEL_KEYS, GETKEY_KEYS = 64, 16, 4, 4
BATCH_ANN, BATCH_EXACT = 16, 4
K = 10


@dataclass
class Op:
    kind: str
    cls: str                        # "read" | "write"
    args: dict = field(default_factory=dict)
    expect: dict = field(default_factory=dict)


@dataclass
class Workload:
    name: str
    seed: int
    store: StoreModel               # the vector store under test
    ai: Optional[StoreModel] = None
    ann: Optional[StoreModel] = None  # point_dsl's hnsw store
    sentences: List[str] = field(default_factory=list)
    ops: Iterator[Op] = None
    stats: dict = field(default_factory=dict)


def _clustered(rng, n, dim, centroids):
    pick = rng.integers(0, len(centroids), n)
    x = centroids[pick] + SPREAD * rng.standard_normal((n, dim))
    return x.astype(np.float32)


def _unique_rows(rng, n, dim, centroids, taken=()):
    """n clustered f32 rows whose ids are new and mutually distinct."""
    seen = set(int(i) for i in taken)
    out = []
    while len(out) < n:
        x = _clustered(rng, n - len(out), dim, centroids)
        for row, i in zip(x, key_ids(x)):
            if int(i) not in seen:
                seen.add(int(i))
                out.append(row)
    return np.stack(out)


def _sentences(rng, n, dim):
    """n distinct sentences whose stub embeddings are also distinct."""
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    vocab = ["".join(rng.choice(letters, rng.integers(3, 10))) for _ in range(2000)]
    out, seen = [], set()
    while len(out) < n:
        s = " ".join(rng.choice(vocab, rng.integers(6, 13)))
        e = stub_embed(s, dim).tobytes()
        if e not in seen:
            seen.add(e)
            out.append(s)
    return out


def cycle(mix) -> List[str]:
    """The mix as a smooth weighted round-robin over DECK ops: each step
    picks the type furthest behind its share, so types spread evenly."""
    credit = {k: 0 for k in mix}
    out = []
    for _ in range(DECK):
        for k, (n, _c) in mix.items():
            credit[k] += n
        pick = max(credit, key=credit.get)
        credit[pick] -= DECK
        out.append(pick)
    return out


def _kinds(mix) -> Iterator[str]:
    order = cycle(mix)
    while True:
        yield from order


def _zipf_rank(rng) -> int:
    w = 1.0 / np.arange(1, HOT + 1) ** ZIPF_S
    return int(rng.choice(HOT, p=w / w.sum()))


def make_workload(name: str, seed: int) -> Workload:
    if name not in MIXES:
        raise ValueError(f"unknown workload {name!r}; one of {sorted(MIXES)}")
    rng = np.random.default_rng([seed, sorted(MIXES).index(name)])
    n, dim = SIZES[name]
    centroids = rng.standard_normal((CENTROIDS, dim))
    keys = _unique_rows(rng, n, dim, centroids)
    cats = rng.integers(0, N_CATS, n)
    uids = [f"u{i}" for i in range(n)]
    store = StoreModel(dim)
    if name == "scan_topk":
        store.put(keys, [{"uid": u} for u in uids])
    else:
        store.put(keys, [{"cat": f"c{c}", "uid": u} for c, u in zip(cats, uids)])
    wl = Workload(name, seed, store)
    if name == "point_dsl":
        wl.sentences = _sentences(rng, AI_SENTENCES, AI_DIM)
        wl.ai = StoreModel(AI_DIM)
        wl.ai.put(np.stack([stub_embed(s, AI_DIM) for s in wl.sentences]),
                  [{"_ahnlich_input_key": s} for s in wl.sentences])
        an, ad = ANN_SIZE
        wl.ann = StoreModel(ad)
        ann_keys = _unique_rows(rng, an, ad, rng.standard_normal((CENTROIDS, ad)))
        wl.ann.put(ann_keys, [{"uid": f"u{i}"} for i in range(an)])
        wl.ops = _point_ops(rng, wl, keys, ann_keys)
    elif name == "scan_topk":
        wl.ops = _scan_ops(rng, wl, keys)
    else:
        wl.ops = _ingest_ops(rng, wl, keys, centroids)
    return wl


def _point_ops(rng, wl: Workload, keys, ann_keys) -> Iterator[Op]:
    hot = rng.permutation(len(keys))[:HOT]
    hot_ann = rng.permutation(len(ann_keys))[:HOT]
    hot_text = rng.permutation(len(wl.sentences))[:HOT]
    seen: set = set()
    wl.stats.update(probes=0, repeated_probes=0)

    def probe(tag, pool):
        r = int(pool[_zipf_rank(rng) % len(pool)])
        wl.stats["probes"] += 1
        wl.stats["repeated_probes"] += (tag, r) in seen
        seen.add((tag, r))
        return r

    for kind in _kinds(MIXES["point_dsl"]):
        if kind == "ai_simn":
            yield Op(kind, "read", {"text": wl.sentences[probe("text", hot_text)]})
        elif kind == "getpred":
            yield Op(kind, "read", {"cat": f"c{rng.integers(N_CATS)}"})
        elif kind == "ann":
            yield Op(kind, "read", {"vec": ann_keys[probe("ann", hot_ann)]})
        else:
            args = {"vec": keys[probe("vec", hot)]}
            if kind == "simn_where":
                args["cat"] = f"c{rng.integers(N_CATS)}"
            yield Op(kind, "read", args)


def _noisy(rng, v):
    return (v + PROBE_NOISE * rng.standard_normal(v.shape)).astype(np.float32)


def _scan_ops(rng, wl: Workload, keys) -> Iterator[Op]:
    n = len(keys)
    for kind in _kinds(MIXES["scan_topk"]):
        if kind in ("batch_ann", "batch_exact"):
            b = BATCH_ANN if kind == "batch_ann" else BATCH_EXACT
            probes = [_noisy(rng, keys[i]) for i in rng.integers(0, n, b)]
            yield Op(kind, "read", {"probes": probes})
        else:
            yield Op(kind, "read", {"vec": _noisy(rng, keys[rng.integers(n)])})


def _ingest_ops(rng, wl: Workload, keys, centroids) -> Iterator[Op]:
    model = wl.store
    dim = model.dim
    next_uid = len(keys)
    last_set, last_ids = np.zeros((0, dim), np.float32), np.zeros(0, np.int64)

    def live_rows(count):
        ids = list(model.rows)
        return [ids[p] for p in rng.choice(len(ids), count, replace=False)]

    for kind in _kinds(MIXES["ingest_mixed"]):
        cls = MIXES["ingest_mixed"][kind][1]
        if kind == "set":
            old = live_rows(SET_RESETS)
            fresh = _unique_rows(rng, SET_ROWS - SET_RESETS, dim, centroids,
                                 taken=model.rows)
            batch = np.concatenate([np.stack([model.rows[i][0] for i in old]), fresh])
            metas = [{"cat": f"c{rng.integers(N_CATS)}",
                      "uid": model.rows[i][1]["uid"]} for i in old]
            for _ in fresh:
                metas.append({"cat": f"c{rng.integers(N_CATS)}", "uid": f"u{next_uid}"})
                next_uid += 1
            inserted, updated = model.put(batch, metas)
            last_set, last_ids = batch, key_ids(batch)
            yield Op(kind, cls, {"keys": batch, "metas": metas},
                     {"inserted": inserted, "updated": updated})
        elif kind == "delkey":
            gone = np.stack([model.rows[i][0] for i in live_rows(DEL_KEYS)])
            yield Op(kind, cls, {"keys": gone}, {"deleted": model.delete(gone)})
        elif kind == "upsert":
            i = live_rows(1)[0]
            uid = model.rows[i][1]["uid"]
            meta = {"cat": f"c{rng.integers(N_CATS)}", "uid": uid}
            model.rows[i] = (model.rows[i][0], meta)
            yield Op(kind, cls, {"uid": uid, "meta": meta}, {"inserted": 0, "updated": 1})
        elif kind == "getkey":  # read-your-writes on the latest SET batch
            live = [k for k, i in zip(last_set, last_ids) if int(i) in model.rows]
            if len(live) < GETKEY_KEYS:  # no SET yet: read stored rows
                live = [model.rows[i][0] for i in live_rows(GETKEY_KEYS)]
            pick = rng.choice(len(live), GETKEY_KEYS, replace=False)
            yield Op(kind, cls, {"keys": np.stack([live[p] for p in pick])})
        else:
            yield Op(kind, cls, {"vec": _noisy(rng, model.rows[live_rows(1)[0]][0])})


def fingerprint(wl: Workload, n_ops: int) -> str:
    """Digest of the initial stores and the first ``n_ops`` ops (consumes
    them); equal seeds must give equal digests."""
    import hashlib

    h = hashlib.sha256()
    ids, keys = wl.store.arrays()
    h.update(ids.tobytes() + keys.tobytes())
    h.update(repr([wl.store.rows[int(i)][1] for i in ids]).encode())
    h.update("\n".join(wl.sentences).encode())
    if wl.ann is not None:
        h.update(wl.ann.arrays()[1].tobytes())
    for _ in range(n_ops):
        op = next(wl.ops)
        h.update(repr((op.kind, sorted(op.expect.items()))).encode())
        for name in sorted(op.args):
            v = op.args[name]
            if isinstance(v, list) and v and isinstance(v[0], np.ndarray):
                v = np.stack(v)
            h.update(v.tobytes() if isinstance(v, np.ndarray) else repr(v).encode())
    return h.hexdigest()

"""Seeded input generators. The same seed gives the same inputs; the
program under test sees only the files written here. Each generator
returns the truth the checks in checks.py need."""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------- sizes
KEYS = 100_000            # keyspace: generated keys
HOT_TOP_N = 20              # keyspace: hot-slot top-N
JOIN_PARTITIONS = 8         # keyspace: colocatedJoin width
RIGHT_SHARE = 0.25          # keyspace: right table = this share of the keys
TENANTS = 2000              # keyspace: Zipf-skewed hash-tag tenants
TENANT_ZIPF = 1.2

BASE_DOCS = 1200            # llm_pipeline: unrelated documents
DOC_WORDS = 60
VOCAB = 5000
NEAR_DUP_RATES = (0.02, 0.05, 0.10, 0.20)   # word-substitution rates
NEAR_DUPS_PER_RATE = 80
EXACT_DUPS = 80
JACCARD_THRESHOLD = 0.5
CORPUS_VECTORS = 5_000
QUERY_VECTORS = 100
DIM = 32
BLOBS = 64
TOP_K = 10
NLIST = 32
NPROBE = 4
QUERY_ID_BASE = 10_000_000

STREAM_BATCHES = 30         # stream_ingest: staged batch files
EVENTS_PER_BATCH = 5_000
BATCH_MINUTES = 20          # event-time span of one batch
MAX_LATENESS_MINUTES = 5    # below the program's 10-minute watermark
STREAM_USERS = 2000
EVENT_TYPES = ("view", "click", "cart", "purchase", "search")

# query_mix: a fixed set of the program's declared queries (Parity,
# Analytics and SqlSurface families, each with an oracle SQL, none
# writing to disk); the seed fixes their order.
QUERY_MIX = (
    "p01_slot_literals", "p04_node_distribution", "a18_topk_orders",
    "a26_cube", "a65_window_nulls", "a67_fuzzy_lev",
)

# FIXTURES.md §1 golden key → (slot, node)
GOLDEN = {
    "user:1000": (1649, 1), "product:5432": (13236, 5),
    "{user:1000}:profile": (1649, 1), "{user:1000}:sessions": (1649, 1),
    "{user:profile}:1000": (1391, 1), "foo": (12182, 5), "bar": (5061, 2),
    "hello": (866, 1), "": (0, 1), "{}": (15257, 6), "{}x": (10595, 4),
    "a{b}c": (3300, 2), "{{inner}}": (9846, 4), "key{": (2667, 1),
    "key}": (10925, 5), "{user1000}.following": (3443, 2),
    "{user1000}.followers": (3443, 2), "user:1": (10778, 4), "user:2": (6777, 3),
    "user:999": (9804, 4),
}


def write_params(out, **kv):
    with open(os.path.join(out, "params.txt"), "w") as fh:
        for k, v in kv.items():
            fh.write(f"{k}={v}\n")


def _keys(rng, n):
    """The key mix: plain, Zipf-tenant hash tags, multi-byte UTF-8, brace
    edge cases, then the golden keys. Every key is distinct."""
    n_plain, n_tag, n_utf = int(n * 0.4), int(n * 0.4), int(n * 0.1)
    n_edge = n - n_plain - n_tag - n_utf - len(GOLDEN)
    keys = [f"user:{1_000_000 + i}" for i in range(n_plain)]
    tenants = np.minimum(rng.zipf(TENANT_ZIPF, n_tag), TENANTS)
    keys += [f"{{tenant:{t}}}:obj:{i}" for i, t in enumerate(tenants.tolist())]
    utf = ("用户:{i}", "ключ:{i}", "clé:{{é{m}}}:x{i}", "🔑{i}", "ü{{ß{m}}}{i}")
    keys += [utf[i % len(utf)].format(i=i, m=i % 97) for i in range(n_utf)]
    edge = ("{{}}{i}", "{{{{t{m}}}}}:{i}", "key{{{i}", "key}}{i}", "a{{{m}}}c{i}",
            "{{}}{{x{m}}}:{i}", "}}{{{m}}}:{i}", "{{{i}")
    keys += [edge[i % len(edge)].format(i=i, m=i % 50) for i in range(n_edge)]
    keys += list(GOLDEN)
    order = rng.permutation(len(keys))
    return [keys[i] for i in order]


def keyspace(out, seed):
    rng = np.random.default_rng(seed)
    keys = _keys(rng, KEYS)
    n = len(keys)
    pq.write_table(pa.table({"id": pa.array(np.arange(n, dtype=np.int64)),
                             "key": pa.array(keys, pa.string())}),
                   os.path.join(out, "keys.parquet"))
    pick = np.sort(rng.choice(n, int(n * RIGHT_SHARE), replace=False))
    vals = rng.integers(0, 1000, len(pick), dtype=np.int64)
    pq.write_table(pa.table({"key": pa.array([keys[i] for i in pick.tolist()], pa.string()),
                             "val": pa.array(vals)}),
                   os.path.join(out, "right.parquet"))
    write_params(out, hot_top_n=HOT_TOP_N, join_partitions=JOIN_PARTITIONS)
    return {"keys": keys, "join": (len(pick), int(vals.sum()))}


def query_mix(out, seed):
    order = [QUERY_MIX[i] for i in np.random.default_rng(seed).permutation(len(QUERY_MIX))]
    write_params(out, queries=",".join(order))
    return {"queries": order}


def _blobs(rng, n, centers):
    pts = centers[rng.integers(0, len(centers), n)] + 0.35 * rng.standard_normal((n, DIM))
    return pts.astype(np.float32)


def llm_pipeline(out, seed):
    rng = np.random.default_rng(seed)
    vocab = np.array([f"w{j}" for j in range(VOCAB)], dtype=object)
    base = [vocab[rng.integers(0, VOCAB, DOC_WORDS)].tolist() for _ in range(BASE_DOCS)]
    texts = [" ".join(ws) for ws in base]
    planted = []        # (index of original, index of copy, substitution rate)
    sources = rng.choice(BASE_DOCS, len(NEAR_DUP_RATES) * NEAR_DUPS_PER_RATE + EXACT_DUPS,
                         replace=False).tolist()
    s = 0
    for rate in NEAR_DUP_RATES:
        for _ in range(NEAR_DUPS_PER_RATE):
            src = sources[s]
            s += 1
            ws = list(base[src])
            for p in rng.choice(DOC_WORDS, max(1, round(rate * DOC_WORDS)), replace=False):
                ws[p] = vocab[rng.integers(0, VOCAB)]
            planted.append((src, len(texts), rate))
            texts.append(" ".join(ws))
    for _ in range(EXACT_DUPS):
        src = sources[s]
        s += 1
        planted.append((src, len(texts), 0.0))
        texts.append(texts[src])
    ids = rng.permutation(len(texts)).astype(np.int64) + 1
    pq.write_table(pa.table({"doc_id": pa.array(ids), "text": pa.array(texts, pa.string())}),
                   os.path.join(out, "docs.parquet"))

    centers = rng.standard_normal((BLOBS, DIM))
    corpus = _blobs(rng, CORPUS_VECTORS, centers)
    queries = _blobs(rng, QUERY_VECTORS, centers)
    cids = np.arange(1, CORPUS_VECTORS + 1, dtype=np.int64)
    qids = np.arange(QUERY_ID_BASE, QUERY_ID_BASE + QUERY_VECTORS, dtype=np.int64)
    vec = pa.list_(pa.float32())
    pq.write_table(pa.table({"vec_id": pa.array(cids),
                             "embedding": pa.array(list(corpus), vec)}),
                   os.path.join(out, "corpus.parquet"))
    pq.write_table(pa.table({"vec_id": pa.array(qids),
                             "embedding": pa.array(list(queries), vec)}),
                   os.path.join(out, "queries.parquet"))
    write_params(out, jaccard_threshold=JACCARD_THRESHOLD, top_k=TOP_K, nlist=NLIST,
                 nprobe=NPROBE)
    return {"texts": texts, "ids": ids, "planted": planted, "corpus": corpus,
            "corpus_ids": cids, "queries": queries, "query_ids": qids}


def stream_ingest(out, seed):
    rng = np.random.default_rng(seed)
    d = os.path.join(out, "events")
    os.makedirs(d)
    t0_us = 1_760_000_400 * 1_000_000          # an hour boundary, UTC
    span_us = BATCH_MINUTES * 60_000_000
    late_us = MAX_LATENESS_MINUTES * 60_000_000
    p_types = np.array([0.45, 0.25, 0.12, 0.08, 0.10])
    for b in range(STREAM_BATCHES):
        n = EVENTS_PER_BATCH
        # batch b spans [start - lateness, start + span): never later than the
        # previous batches' maximum event time minus the lateness bound
        start = t0_us + b * span_us
        ts = start - late_us + rng.integers(0, span_us + late_us, n)
        types = np.array(EVENT_TYPES, dtype=object)[rng.choice(len(EVENT_TYPES), n, p=p_types)]
        ev = np.arange(b * n, (b + 1) * n, dtype=np.int64)
        users = np.minimum(rng.zipf(1.3, n), STREAM_USERS).astype(np.int64)
        vals = np.round(rng.uniform(0, 100, n), 2)
        props = np.char.add(np.char.add('{"k": ', rng.integers(0, 100, n).astype(str)), "}")
        pq.write_table(pa.table({
            "event_id": pa.array(ev),
            "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
            "user_id": pa.array(users),
            "event_type": pa.array(types.tolist(), pa.string()),
            "value": pa.array(vals),
            "props": pa.array(props.tolist(), pa.string())}),
            os.path.join(d, f"batch-{b:04d}.parquet"))
    write_params(out, events_per_batch=EVENTS_PER_BATCH)
    return {}


GENERATORS = {"keyspace": keyspace, "query_mix": query_mix,
              "llm_pipeline": llm_pipeline, "stream_ingest": stream_ingest}

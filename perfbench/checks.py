"""Correctness checks: each compares the program's outputs with a
computation made here, outside the program, or with a property the
outputs must have. A check returns a list of failure messages (empty
when it passes); selftest.py shows each one fails on a corrupted output."""
import binascii
import glob
import json
import math
import os

import duckdb
import numpy as np

import gen

NODE_BOUNDS = np.array([2731, 5461, 8192, 10923, 13653])   # first slot of nodes 2..6


def slot_of(key):
    """Redis Cluster slot: CRC-16/XMODEM of the hash tag (the bytes between
    the first '{' and the first '}' after it, when non-empty) or of the key."""
    b = key.encode("utf-8")
    s = b.find(b"{")
    if s >= 0:
        e = b.find(b"}", s + 1)
        if e > s + 1:
            b = b[s + 1:e]
    return binascii.crc_hqx(b, 0) % 16384


def nodes_of(slots):
    return np.searchsorted(NODE_BOUNDS, np.asarray(slots), side="right") + 1


def _rows(con, sql):
    return con.execute(sql).fetchall()


def _parquet(path):
    return f"read_parquet('{path}/**/*.parquet', hive_partitioning = true)"


# ---------------------------------------------------------------- keyspace

def keyspace_truth(truth):
    keys = truth["keys"]
    slots = np.fromiter((slot_of(k) for k in keys), dtype=np.int64, count=len(keys))
    return slots, nodes_of(slots)


def check_keyspace(out, truth, con):
    fails = []
    keys = truth["keys"]
    n = len(keys)
    slots, nodes = truth.get("slots_nodes") or keyspace_truth(truth)
    # every key's slot and node, as the program computed them
    got = con.execute(f"SELECT id, slot, node FROM {_parquet(out['slots_dir'])} ORDER BY id").fetchnumpy()
    if len(got["id"]) != n or not np.array_equal(got["id"], np.arange(n)):
        fails.append(f"slots: {len(got['id'])} rows for {n} keys")
    else:
        bad = np.nonzero((got["slot"] != slots) | (got["node"] != nodes))[0]
        if len(bad):
            i = int(bad[0])
            fails.append(f"slots: {len(bad)} keys differ, first {keys[i]!r}: "
                         f"got ({got['slot'][i]}, {got['node'][i]}), want ({slots[i]}, {nodes[i]})")
        index = {k: i for i, k in enumerate(keys) if k in gen.GOLDEN}
        for k, (s, nd) in gen.GOLDEN.items():
            i = index.get(k)
            if i is None or (got["slot"][i], got["node"][i]) != (s, nd):
                fails.append(f"golden {k!r}: want ({s}, {nd})")
    # node balance: per-node counts sum to the keys generated, and equal ours
    want_nodes = np.bincount(nodes, minlength=7)[1:]
    want_distinct = [len(np.unique(slots[nodes == k])) for k in range(1, 7)]
    balance = out["node_balance"]
    if sum(r[1] for r in balance) != n:
        fails.append(f"node_balance: counts sum to {sum(r[1] for r in balance)}, not {n}")
    if [(r[0], r[1], r[2]) for r in balance] != \
            [(k + 1, int(want_nodes[k]), want_distinct[k]) for k in range(6)]:
        fails.append(f"node_balance: {balance} != per-node counts {want_nodes.tolist()}")
    if any(abs(r[3] - r[1] / n) > 1e-12 for r in balance):
        fails.append("node_balance: share != keys / total")
    # hot slots: top-N by count, ties by slot
    counts = np.bincount(slots, minlength=16384)
    order = np.lexsort((np.arange(16384), -counts))[:gen.HOT_TOP_N]
    want_hot = [(int(s), int(counts[s])) for s in order]
    if [tuple(r) for r in out["hot_slots"]] != want_hot:
        fails.append(f"hot_slots: {out['hot_slots'][:3]}... != {want_hot[:3]}...")
    # per-shard pruned reads: each node's rows and id sum
    ids = np.arange(n)
    want_reads = [[int(want_nodes[k]), int(ids[nodes == k + 1].sum())] for k in range(6)]
    if out["shard_reads"] != want_reads:
        fails.append(f"shard_reads: {out['shard_reads']} != {want_reads}")
    if list(out["join"]) != list(truth["join"]):
        fails.append(f"colocated join: (rows, sum) {out['join']} != {list(truth['join'])}")
    # shard layout: every row under the node directory of its key, rows read
    # back = rows written = the listener's recordsWritten
    for d in (out["shards_dir"], out["verify_shards_dir"]):
        lay = con.execute(f"SELECT id, node FROM {_parquet(d)} ORDER BY id").fetchnumpy()
        if len(lay["id"]) != n or not np.array_equal(lay["id"], ids):
            fails.append(f"shard layout {os.path.basename(d)}: {len(lay['id'])} rows, want ids 0..{n - 1}")
        elif not np.array_equal(lay["node"], nodes):
            bad = int(np.nonzero(lay["node"] != nodes)[0][0])
            fails.append(f"shard layout {os.path.basename(d)}: key {keys[bad]!r} under "
                         f"node={lay['node'][bad]}, want node={nodes[bad]}")
    if not (out["read_back"] == out["records_written"] == n):
        fails.append(f"shard write: read back {out['read_back']}, recordsWritten "
                     f"{out['records_written']}, keys {n}")
    return fails


# --------------------------------------------------------------- query_mix

SF_TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
             "lineitem", "events", "documents", "embeddings")


def _canon(v):
    if isinstance(v, float):
        return ("nan",) if math.isnan(v) else v
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _canon(x)) for k, x in v.items()))
    return v


def _sorted_rows(rows):
    return sorted((tuple(_canon(v) for v in r) for r in rows), key=repr)


def check_query_mix(out, truth, con, sf):
    """Each query's rows equal DuckDB's run of its oracle SQL (columns by
    name, rows as a multiset, values exact)."""
    fails = []
    qdir = out["queries_dir"]
    for t in SF_TABLES:
        if os.path.exists(f"{sf}/{t}.parquet"):
            con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")
    oracle = json.load(open(os.path.join(qdir, "oracle_sql.json")))
    for name in truth["queries"]:
        try:
            if name not in oracle:
                raise AssertionError("no oracle SQL")
            exp = con.execute(oracle[name])
            ecols = [d[0] for d in exp.description]
            erows = exp.fetchall()
            files = sorted(glob.glob(os.path.join(qdir, name, "*.parquet")))
            got = con.execute(f"SELECT * FROM read_parquet({files!r})")
            gcols = [d[0] for d in got.description]
            grows = got.fetchall()
            if sorted(gcols) != sorted(ecols):
                raise AssertionError(f"columns {sorted(gcols)} != {sorted(ecols)}")
            gi = [gcols.index(c) for c in sorted(gcols)]
            ei = [ecols.index(c) for c in sorted(ecols)]
            g = _sorted_rows([[r[i] for i in gi] for r in grows])
            e = _sorted_rows([[r[i] for i in ei] for r in erows])
            if len(g) != len(e):
                raise AssertionError(f"{len(g)} rows, oracle {len(e)}")
            for a, b in zip(g, e):
                if a != b:
                    raise AssertionError(f"row {a!r} != oracle {b!r}")
        except Exception as ex:       # one message per query, never a crash
            fails.append(f"{name}: {ex}")
    return fails


# ------------------------------------------------------------ llm_pipeline

NEAR_DUP_RECALL_MIN = 0.80      # planted pairs at or above the threshold
IVF_RECALL_MIN = 0.80           # recall@k of IVF against exact top-k

def shingles(text, n=3):
    toks = text.encode("utf-8").split()
    if len(toks) <= n:
        return {b" ".join(toks)}
    return {b" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def jaccard(a, b):
    return len(a & b) / len(a | b)


def topk_truth(truth, k):
    c = truth["corpus"].astype(np.float64)
    q = truth["queries"].astype(np.float64)
    sims = (q @ c.T) / np.outer(np.linalg.norm(q, axis=1), np.linalg.norm(c, axis=1))
    ids = truth["corpus_ids"]
    top = []
    for row in sims:
        cand = np.argpartition(-row, k + 20)[:k + 20]
        cand = cand[np.lexsort((ids[cand], -row[cand]))][:k]
        top.append([(int(ids[j]), float(row[j])) for j in cand])
    return top


def check_llm(out, truth, con):
    fails = []
    d = out["dir"]
    ids, texts = truth["ids"], truth["texts"]
    by_id = {int(i): t for i, t in zip(ids, texts)}
    sh = {}

    def S(i):
        if i not in sh:
            sh[i] = shingles(by_id[i])
        return sh[i]

    # every reported near-dup pair meets the threshold, recomputed here
    pairs = _rows(con, f"SELECT i, j, jaccard FROM {_parquet(d + '/near_dups')}")
    for i, j, jac in pairs:
        true = jaccard(S(i), S(j))
        if true < gen.JACCARD_THRESHOLD or abs(true - jac) > 1e-9:
            fails.append(f"near-dup ({i}, {j}): reported {jac}, recomputed {true}")
            break
    # recall of the planted pairs whose true Jaccard reaches the threshold
    found = {(min(i, j), max(i, j)) for i, j, _ in pairs}
    want = [(min(a, b), max(a, b)) for a, b in
            ((int(ids[s]), int(ids[c])) for s, c, _ in truth["planted"])
            if jaccard(S(a), S(b)) >= gen.JACCARD_THRESHOLD]
    recall = sum(p in found for p in want) / max(1, len(want))
    if recall < NEAR_DUP_RECALL_MIN:
        fails.append(f"near-dup recall {recall:.3f} < {NEAR_DUP_RECALL_MIN}")
    # exact dedup keeps the smallest id of every distinct text
    first = {}
    for i, t in zip(ids.tolist(), texts):
        first[t] = min(i, first.get(t, i))
    kept = sorted(r[0] for r in _rows(con, f"SELECT doc_id FROM {_parquet(d + '/exact_kept')}"))
    if kept != sorted(first.values()):
        fails.append(f"exact dedup kept {len(kept)} docs, want {len(first)}")
    if list(out["exact_kept"]) != [len(first), sum(first.values())]:
        fails.append(f"exact dedup (rows, id sum) {out['exact_kept']} != {[len(first), sum(first.values())]}")
    # brute-force top-k equals numpy's, ties by id, similarities within 1e-6
    k = gen.TOP_K
    want_top = truth.get("topk") or topk_truth(truth, k)
    qids = truth["query_ids"].tolist()
    for name in ("brute", "ivf"):
        rows = _rows(con, f"SELECT query_id, nbr_id, rank, sim FROM {_parquet(d + '/' + name)} "
                          "ORDER BY query_id, rank")
        got = {}
        for q, nb, r, s in rows:
            got.setdefault(q, []).append((r, nb, s))
        if name == "brute":
            for q, w in zip(qids, want_top):
                g = got.get(q, [])
                if [r for r, _, _ in g] != list(range(1, k + 1)):
                    fails.append(f"brute top-k: query {q} ranks {[r for r, _, _ in g]}")
                    break
                bad = [(r, nb, s, wi, ws) for (r, nb, s), (wi, ws) in zip(g, w)
                       if nb != wi or abs(s - ws) > 1e-6]
                if bad:
                    fails.append(f"brute top-k: query {q} rank {bad[0][0]}: got ({bad[0][1]}, "
                                 f"{bad[0][2]}), want ({bad[0][3]}, {bad[0][4]})")
                    break
        else:
            hit = sum(len({nb for _, nb, _ in got.get(q, [])} & {i for i, _ in w})
                      for q, w in zip(qids, want_top))
            recall = hit / (len(qids) * k)
            if recall < IVF_RECALL_MIN:
                fails.append(f"IVF recall@{k} {recall:.3f} < {IVF_RECALL_MIN}")
    return fails



# ----------------------------------------------------------- stream_ingest

def check_stream(out, truth, con):
    fails = []
    files = out["landed"]
    want = _rows(con, f"SELECT epoch_us(date_trunc('hour', ts)), event_type, count(*) "
                      f"FROM read_parquet({files!r}) GROUP BY ALL ORDER BY ALL")
    got = _rows(con, f"SELECT epoch_us(hour), event_type, cnt FROM {_parquet(out['hourly_dir'])} "
                     "ORDER BY ALL")
    if got != want:
        diff = sorted(set(got) ^ set(want))[:2]
        fails.append(f"hourly counts: {len(got)} rows vs {len(want)} from DuckDB; first diff {diff}")
    events = _rows(con, f"SELECT count(*) FROM read_parquet({files!r})")[0][0]
    total = sum(r[2] for r in got)
    if total != events:
        fails.append(f"hourly counts sum to {total}, {events} events written")
    return fails


def run_checks(workload, out, truth, sf):
    con = duckdb.connect()
    try:
        if workload == "keyspace":
            return check_keyspace(out, truth, con)
        if workload == "query_mix":
            return check_query_mix(out, truth, con, sf)
        if workload == "llm_pipeline":
            return check_llm(out, truth, con)
        return check_stream(out, truth, con)
    finally:
        con.close()

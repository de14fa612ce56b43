#!/usr/bin/env python3
"""Self-test of the correctness checks: each check must pass on outputs
made correctly here, and fail once one value is corrupted -- one key's
slot changed, one shard row dropped, two top-k ids swapped, one streamed
count off by one, one query value changed.

Usage (from the root of a checkout): python3 perfbench/selftest.py
Writes only under $CARGO_TARGET_DIR (default .bench_build) and removes
what it wrote. Exits 1 if any check misses its corruption.
"""
import sys

sys.dont_write_bytecode = True

import copy  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402

import duckdb  # noqa: E402
import numpy as np  # noqa: E402
import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402


def write(path, table):
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, os.path.join(path, "part-0.parquet"))


def keyspace_case(d):
    rng = np.random.default_rng(7)
    keys = gen._keys(rng, 3000)
    n = len(keys)
    slots, nodes = checks.keyspace_truth({"keys": keys})
    ids = np.arange(n)
    write(f"{d}/slots", pa.table({"id": ids, "slot": slots.astype(np.int32),
                                  "node": nodes.astype(np.int32)}))
    for name in ("shards", "verify_shards"):
        for k in range(1, 7):
            write(f"{d}/{name}/node={k}", pa.table({"id": ids[nodes == k], "key": pa.array(
                [keys[i] for i in ids[nodes == k]], pa.string())}))
    counts = np.bincount(slots, minlength=16384)
    hot = np.lexsort((np.arange(16384), -counts))[:gen.HOT_TOP_N]
    out = {
        "slots_dir": f"{d}/slots", "shards_dir": f"{d}/shards",
        "verify_shards_dir": f"{d}/verify_shards",
        "node_balance": [[k, int((nodes == k).sum()), len(np.unique(slots[nodes == k])),
                          (nodes == k).sum() / n] for k in range(1, 7)],
        "hot_slots": [[int(s), int(counts[s])] for s in hot],
        "shard_reads": [[int((nodes == k).sum()), int(ids[nodes == k].sum())] for k in range(1, 7)],
        "join": [10, 99], "read_back": n, "records_written": n}
    truth = {"keys": keys, "join": (10, 99), "slots_nodes": (slots, nodes)}

    def slot_changed(o):
        i = keys.index("user:1000")
        bad = slots.copy()
        bad[i] = (bad[i] + 1) % 16384
        write(f"{d}/slots_bad", pa.table({"id": ids, "slot": bad.astype(np.int32),
                                          "node": nodes.astype(np.int32)}))
        o["slots_dir"] = f"{d}/slots_bad"

    def shard_row_dropped(o):
        bad = f"{d}/verify_shards_bad"
        shutil.copytree(f"{d}/verify_shards", bad)
        k = int(nodes[0])
        keep = ids[nodes == k][1:]
        write(f"{bad}/node={k}", pa.table({"id": keep, "key": pa.array(
            [keys[i] for i in keep], pa.string())}))
        o["verify_shards_dir"] = bad

    return checks.check_keyspace, out, truth, {
        "one key's slot changed": slot_changed, "one shard row dropped": shard_row_dropped}


def llm_case(d):
    saved = (gen.BASE_DOCS, gen.CORPUS_VECTORS, gen.QUERY_VECTORS)
    gen.BASE_DOCS, gen.CORPUS_VECTORS, gen.QUERY_VECTORS = 600, 2000, 20
    try:
        inputs = f"{d}/inputs"
        os.makedirs(inputs)
        truth = gen.llm_pipeline(inputs, 7)
    finally:
        gen.BASE_DOCS, gen.CORPUS_VECTORS, gen.QUERY_VECTORS = saved
    ids, texts = truth["ids"], truth["texts"]
    pairs = []
    for s, c, _ in truth["planted"]:
        a, b = sorted((int(ids[s]), int(ids[c])))
        j = checks.jaccard(checks.shingles(texts[s]), checks.shingles(texts[c]))
        if j >= gen.JACCARD_THRESHOLD:
            pairs.append((a, b, j))
    write(f"{d}/near_dups", pa.table({"i": [p[0] for p in pairs], "j": [p[1] for p in pairs],
                                      "jaccard": [p[2] for p in pairs]}))
    first = {}
    for i, t in zip(ids.tolist(), texts):
        first[t] = min(i, first.get(t, i))
    write(f"{d}/exact_kept", pa.table({"doc_id": sorted(first.values())}))
    top = checks.topk_truth(truth, gen.TOP_K)
    truth["topk"] = top
    rows = [(q, nb, r + 1, s) for q, t in zip(truth["query_ids"].tolist(), top)
            for r, (nb, s) in enumerate(t)]
    table = pa.table({"query_id": [r[0] for r in rows], "nbr_id": [r[1] for r in rows],
                      "rank": pa.array([r[2] for r in rows], pa.int32()),
                      "sim": [r[3] for r in rows]})
    write(f"{d}/brute", table)
    write(f"{d}/ivf", table)
    out = {"dir": d, "exact_kept": [len(first), sum(first.values())]}

    def ids_swapped(o):
        nb = table.column("nbr_id").to_pylist()
        nb[0], nb[1] = nb[1], nb[0]
        write(f"{d}/bad/brute", table.set_column(1, "nbr_id", pa.array(nb)))
        for name in ("near_dups", "exact_kept", "ivf"):
            shutil.copytree(f"{d}/{name}", f"{d}/bad/{name}")
        o["dir"] = f"{d}/bad"

    return checks.check_llm, out, truth, {"two top-k ids swapped": ids_swapped}


def stream_case(d):
    saved = gen.STREAM_BATCHES
    gen.STREAM_BATCHES = 3
    try:
        gen.stream_ingest(d, 7)
    finally:
        gen.STREAM_BATCHES = saved
    files = sorted(os.path.join(d, "events", f) for f in os.listdir(f"{d}/events"))
    con = duckdb.connect()
    rows = con.execute(f"SELECT date_trunc('hour', ts) AS hour, event_type, count(*) AS cnt "
                       f"FROM read_parquet({files!r}) GROUP BY ALL ORDER BY ALL").fetchall()
    con.close()
    table = pa.table({"hour": pa.array([r[0] for r in rows], pa.timestamp("us", tz="UTC")),
                      "event_type": [r[1] for r in rows], "cnt": [r[2] for r in rows]})
    write(f"{d}/hourly", table)
    out = {"hourly_dir": f"{d}/hourly", "landed": files}

    def count_off_by_one(o):
        cnt = table.column("cnt").to_pylist()
        cnt[0] += 1
        write(f"{d}/hourly_bad", table.set_column(2, "cnt", pa.array(cnt)))
        o["hourly_dir"] = f"{d}/hourly_bad"

    return checks.check_stream, out, {}, {"one streamed count off by one": count_off_by_one}


def query_case(d):
    sf = f"{d}/sf"
    os.makedirs(sf)
    pq.write_table(pa.table({"r_regionkey": pa.array([0, 1, 2], pa.int32()),
                             "r_name": ["AFRICA", "AMERICA", "ASIA"]}), f"{sf}/region.parquet")
    qdir = f"{d}/queries"
    write(f"{qdir}/q1", pa.table({"r_name": ["ASIA", "AFRICA", "AMERICA"],
                                  "r_regionkey": pa.array([2, 0, 1], pa.int32())}))
    with open(f"{qdir}/oracle_sql.json", "w") as fh:
        json.dump({"q1": "SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey"}, fh)
    out = {"queries_dir": qdir}

    def value_changed(o):
        bad = f"{d}/queries_bad"
        shutil.copytree(qdir, bad)
        write(f"{bad}/q1", pa.table({"r_name": ["ASIA", "AFRICA", "EUROPE"],
                                     "r_regionkey": pa.array([2, 0, 1], pa.int32())}))
        o["queries_dir"] = bad

    def check(out, truth, con):
        return checks.check_query_mix(out, truth, con, sf)

    return check, out, {"queries": ["q1"]}, {"one query value changed": value_changed}


def main():
    root = os.path.join(run.build_dir(), f"selftest-{os.getpid()}")
    ok = True
    try:
        for name, case in (("keyspace", keyspace_case), ("llm_pipeline", llm_case),
                           ("stream_ingest", stream_case), ("query_mix", query_case)):
            d = os.path.join(root, name)
            os.makedirs(d)
            check, out, truth, corruptions = case(d)
            con = duckdb.connect()
            fails = check(out, truth, con)
            print(f"{name}: clean outputs -> {'pass' if not fails else 'FAIL ' + str(fails)}")
            ok &= not fails
            for what, corrupt in corruptions.items():
                bad = copy.deepcopy(out)
                corrupt(bad)
                fails = check(bad, truth, con)
                print(f"{name}: {what} -> {'caught: ' + fails[0] if fails else 'MISSED'}")
                ok &= bool(fails)
            con.close()
    finally:
        shutil.rmtree(root, ignore_errors=True)
    print("self-test " + ("passed" if ok else "FAILED"))
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()

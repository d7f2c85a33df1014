"""Seeded input generators for the graft benchmark.

Two kinds of input, both written as parquet:

* ``write_corpus`` -- the ten driver-contract tables (TPC-H-ish star
  schema plus ``events``, ``documents`` and ``embeddings``) that
  ``SparkEntry.queries`` reads. The corpus is FIXED (a constant seed),
  because the per-query output fingerprints in ``fingerprints.json``
  were taken on it; the workload seed only shuffles query order.
  Distributions follow the measured shape of the sf0.01 test corpus
  (row counts, key ranges, categorical domains, the 31-word document
  vocabulary with planted near-duplicates, unit-norm 64-d embeddings).
  The corpus is generated because the test corpus is not part of the
  repository, and a benchmark run reads nothing outside its checkout.

* ``write_ingest`` -- Kafka-shaped records (``topic``, ``partition``,
  ``offset``, binary JSON ``value``) drawn from an events-like stream,
  keyed like sf0.1 ``events`` (``N_USERS`` uniform ``essCode`` keys),
  with planted missing-required-field rows (~10%), corrupt JSON (~1%)
  and quote/backslash-laden ``props`` strings, plus the expected
  outcome: the valid-key checksum, the dirty count and a content
  checksum over every valid row (excluding the wall-clock ``sTime``).
  The checksums are order-insensitive sums of per-row SHA-1 prefixes,
  recomputed from the sink table by ``GraftBench.Ingest.checkSink``.
"""
import hashlib
import json
import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CORPUS_SEED = 20240101
TOPIC = "events"
GROUP_ID = "graft"
PARTITIONS = 4
MASK64 = (1 << 64) - 1
# distinct `essCode` keys, the pipeline's batching key. `essCode` stands
# for `events.user_id`, and the sf0.1 `events` table has 1,500 distinct
# user ids (0..1499), 45 to 99 rows each: close to uniform.
N_USERS = 1500

VOCAB = ("a agg batch big column customer data dup fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream table "
         "the value vector window").split()


# --------------------------------------------------------------- corpus

def _days(rng, start, span, n):
    d = np.datetime64(start) + rng.integers(0, span, size=n).astype("timedelta64[D]")
    return pa.array(d.astype("datetime64[us]"), pa.timestamp("us"))


def _pick(rng, values, n):
    return pa.array(np.array(values)[rng.integers(0, len(values), n)].tolist(), pa.string())


def _documents(rng, n):
    vocab = np.array(VOCAB)
    lens = rng.integers(10, 100, size=n)
    langs = np.array(["en", "zh", "es", "fr", "de"])
    lang = langs[rng.choice(5, size=n, p=[0.41, 0.1475, 0.1475, 0.1475, 0.1475])]
    source = [f"src{i}" for i in rng.integers(0, 20, size=n)]
    texts = [" ".join(vocab[rng.integers(0, len(vocab), size=k)]) for k in lens]
    # near-duplicates (an earlier doc with 1..3 tail tokens cut) and
    # exact copies, as in the measured corpus
    n_near, n_exact = int(round(n * 0.047)), max(1, int(round(n * 0.0016)))
    victims = rng.integers(0, n, size=n_near + n_exact)
    targets = rng.integers(0, n, size=n_near + n_exact)
    for i, (v, t) in enumerate(zip(victims, targets)):
        if v == t:
            continue
        words = texts[t].split()
        if i < n_near:
            cut = int(rng.integers(1, 4))
            if len(words) - cut < 10:
                continue
            words = words[: len(words) - cut]
        texts[v] = " ".join(words)
        lang[v] = lang[t]
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(lang.tolist(), pa.string()),
        "source": pa.array(source, pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng, n):
    v = rng.standard_normal((n, 64))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(v.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, size=n).astype(np.int32), pa.int32()),
    })


def corpus_tables(scale):
    """The ten tables at ``scale`` (1.0 = sf0.01 row counts)."""
    rng = np.random.default_rng(CORPUS_SEED)
    n_cust, n_supp, n_part = int(1500 * scale), int(100 * scale), int(2000 * scale)
    n_orders, n_events = int(15000 * scale), int(10000 * scale)
    n_docs, n_emb = 500, 500
    region = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    nation = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    customer = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32), pa.int32()),
        "c_acctbal": pa.array(np.round(rng.uniform(-1000, 10000, n_cust), 2), pa.float64()),
        "c_mktsegment": _pick(rng, ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                                    "MACHINERY"], n_cust)})
    supplier = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32), pa.int32()),
        "s_acctbal": pa.array(np.round(rng.uniform(-1000, 10000, n_supp), 2), pa.float64())})
    adj = ["small", "large", "red", "blue", "hot", "cold", "new", "old"]
    noun = ["ring", "widget", "bolt", "gear", "gizmo", "anvil", "plate", "rod"]
    part = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": _pick(rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"],
                        n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32), pa.int32()),
        "p_retailprice": pa.array(np.round(900 + rng.integers(0, 1000, n_part) / 10.0, 1),
                                  pa.float64())})
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), pa.int64()),
        "o_orderstatus": _pick(rng, ["P", "O", "F"], n_orders),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, n_orders), 2),
                                 pa.float64()),
        "o_orderdate": _days(rng, "1995-01-01", 2405, n_orders),
        "o_orderpriority": _pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                       "5-LOW"], n_orders)})
    unit_price = np.exp(rng.uniform(np.log(21.0), np.log(105000.0), size=n_part))
    counts = np.clip(rng.poisson(4.0, size=n_orders), 1, 7)
    okey = np.repeat(np.arange(n_orders), counts)
    n_li = len(okey)
    lineno = np.arange(n_li) - np.repeat(np.cumsum(counts) - counts, counts) + 1
    partkey = rng.integers(0, n_part, size=n_li)
    qty = rng.integers(1, 51, size=n_li).astype(np.float64)
    perm = rng.permutation(n_li)  # stored unordered, like the measured corpus
    lineitem = pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(partkey, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, size=n_li), pa.int64()),
        "l_linenumber": pa.array(lineno.astype(np.int32), pa.int32()),
        "l_quantity": pa.array(qty, pa.float64()),
        "l_extendedprice": pa.array(np.round(qty * unit_price[partkey], 2), pa.float64()),
        "l_discount": pa.array(np.round(rng.integers(0, 11, n_li) / 100.0, 2), pa.float64()),
        "l_tax": pa.array(np.round(rng.integers(0, 9, n_li) / 100.0, 2), pa.float64()),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
        "l_linestatus": _pick(rng, ["O", "F"], n_li),
        "l_shipdate": _days(rng, "1995-01-02", 2499, n_li)}).take(pa.array(perm))
    gaps = rng.exponential(1.0, size=n_events)
    ts = np.datetime64("2024-01-01") + (
        np.cumsum(gaps) / gaps.sum() * (30 * 86400e6 - 1e6)).astype("timedelta64[us]")
    events = pa.table({
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(1, n_cust // 10), n_events), pa.int64()),
        "event_type": _pick(rng, ["click", "view", "purchase", "signup", "error"], n_events),
        "value": pa.array(np.maximum(np.round(rng.exponential(50.0, n_events), 2), 0.01),
                          pa.float64()),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]})
    return {
        "region": region, "nation": nation, "customer": customer, "supplier": supplier,
        "part": part, "orders": orders, "lineitem": lineitem, "events": events,
        "documents": _documents(rng, n_docs), "embeddings": _embeddings(rng, n_emb)}


def write_corpus(out_dir, scale):
    os.makedirs(out_dir, exist_ok=True)
    for name, table in corpus_tables(scale).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


# --------------------------------------------------------------- ingest

def _h64(text):
    return int.from_bytes(hashlib.sha1(text.encode("utf-8")).digest()[:8], "big")


_PROPS_SHAPES = (
    '{{"k": {k}}}',
    '{{"k": {k}, "note": "it\'s {w}"}}',
    '{{"k": {k}, "path": "C:\\\\data\\\\{w}"}}',
    '{{"k": {k}, "quote": "he said \\"{w}\\""}}',
    "{w}'s 'quoted' \\\\ text #{k}",
)
_CORRUPT = ("{{not json! {k}", "}}{{\"cTime\": {k}", "[{k}, \"unterminated", "")


def ingest_records(seed, n_rows, rate=None):
    """Kafka-shaped records for one workload run plus the expected outcome.

    ``rate`` (rows/s) stamps each record with its scheduled creation
    time ``gen_us`` (microseconds after the generator starts); without
    it every stamp is 0 (a backlog that exists before the run)."""
    rng = np.random.default_rng(seed)
    secs = np.sort(rng.integers(0, 30 * 86400, n_rows))
    users = rng.integers(0, N_USERS, n_rows)
    types = np.array(["click", "view", "purchase", "signup", "error"])[rng.integers(0, 5, n_rows)]
    cents = np.maximum(np.round(rng.exponential(5000.0, n_rows)), 1).astype(np.int64)
    kind = rng.random(n_rows)  # < 0.01 corrupt, < 0.11 missing a required field
    shape = rng.integers(0, len(_PROPS_SHAPES), n_rows)
    ks = rng.integers(0, 100, n_rows)
    words = np.array(VOCAB)[rng.integers(0, len(VOCAB), n_rows)]
    base = np.datetime64("2024-01-01T00:00:00")
    next_offset = [0] * PARTITIONS
    cols = {"topic": [], "partition": [], "offset": [], "value": []}
    valid = dirty = 0
    key_sum = content_sum = 0
    for i in range(n_rows):
        part = int(users[i] % PARTITIONS)
        offset = next_offset[part]
        next_offset[part] += 1
        gen_us = int(i * 1_000_000 // rate) if rate else 0
        c_time = str(base + np.timedelta64(int(secs[i]), "s")).replace("T", " ")
        ess = f"ESS{int(users[i]):04d}"
        props = _PROPS_SHAPES[shape[i]].format(k=int(ks[i]), w=words[i])
        payload = {"gen_us": gen_us, "event_id": i, "cTime": c_time, "essCode": ess,
                   "event_type": str(types[i]), "value": int(cents[i]) / 100.0,
                   "props": props}
        if kind[i] < 0.01:
            text = _CORRUPT[i % len(_CORRUPT)].format(k=int(ks[i]))
            dirty += 1
        else:
            if kind[i] < 0.11:
                del payload["cTime" if i % 2 else "essCode"]
                dirty += 1
            else:
                valid += 1
                key_sum += _h64(f"{part}:{offset}")
                content_sum += _h64("|".join(str(x) for x in (
                    gen_us, i, c_time, ess, types[i], int(cents[i]), props, TOPIC, part,
                    offset, GROUP_ID, c_time[:10])))
            text = json.dumps(payload)
        cols["topic"].append(TOPIC)
        cols["partition"].append(part)
        cols["offset"].append(offset)
        cols["value"].append(text.encode("utf-8"))
    table = pa.table({
        "topic": pa.array(cols["topic"], pa.string()),
        "partition": pa.array(cols["partition"], pa.int32()),
        "offset": pa.array(cols["offset"], pa.int64()),
        "value": pa.array(cols["value"], pa.binary())})
    expected = {"rows": n_rows, "valid": valid, "dirty": dirty,
                "key_sum": str(key_sum & MASK64), "content_sum": str(content_sum & MASK64)}
    return table, expected


def write_ingest(out_dir, seed, sizes, rate=None, warm=0):
    """Split the records into parquet files of ``sizes`` rows each, named
    in offset order (``files/part-00000.parquet`` ...), and write
    ``expected.json``, which also names the number of leading ``warm``
    files that are not timed. A paced run also gets ``schedule.json``: each
    file's publish time in microseconds, the stamp of its last record (a
    producer that flushes once per period)."""
    os.makedirs(os.path.join(out_dir, "files"), exist_ok=True)
    table, expected = ingest_records(seed, sum(sizes), rate)
    expected["warm_files"] = warm
    publish = []
    lo = 0
    # the file source takes the oldest files first; a second between
    # modification times keeps that order equal to the offset order
    mtime = time.time_ns() - len(sizes) * 1_000_000_000
    for j, size in enumerate(sizes):
        path = os.path.join(out_dir, "files", f"part-{j:05d}.parquet")
        pq.write_table(table.slice(lo, size), path)
        os.utime(path, ns=(mtime + j * 1_000_000_000,) * 2)
        lo += size
        if rate:
            publish.append(int((lo - 1) * 1_000_000 // rate))
    with open(os.path.join(out_dir, "expected.json"), "w") as f:
        json.dump(expected, f)
    if rate:
        with open(os.path.join(out_dir, "schedule.json"), "w") as f:
            json.dump({"rate": rate, "publish_us": publish}, f)
    return expected

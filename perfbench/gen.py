"""Input generator for the task-mode benchmark.

Writes the ten tables the engine reads (`graft.Tables.all`) as one
parquet file each, with the column names and types of the engine's
TPC-H-style test tables, so `graft.Tables.load` reads them unchanged.

Two knobs shape the input:

- `scale`: base row counts, as a fraction of the sf0.1 sizes
  (150,000 orders, 600,000 lineitem, 100,000 events at scale 0.1);
- `copies`: an N-fold replica of the base, laid out with the engine's
  scale-up key-offset scheme (`ScaleUp`): copy k adds k * 2^33 to every
  key and foreign key of the replicated tables, region and nation pass
  through, and document text gets a per-copy word tag. The scheme is
  re-implemented here, not called, so a change to the engine cannot
  change the inputs.

The seed changes value columns only (prices, dates, statuses, event
types, text, vectors). Keys, foreign keys and row counts depend on
`scale` and `copies` alone, so chunk plans are the same at every seed.
"""
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

KEY_OFFSET = 1 << 33

# sf0.1 row counts
BASE_ROWS = {"customer": 15000, "supplier": 1000, "part": 20000,
             "orders": 150000, "lineitem": 600000, "events": 100000,
             "documents": 5000, "embeddings": 2000}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "SMALL", "STANDARD"]
PART_WORDS = ["small", "red", "blue", "large", "steel", "ring", "widget",
              "bolt", "gear", "plate"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "window"]

EPOCH_1995_US = 788918400 * 10**6   # 1995-01-01
EPOCH_2024_US = 1704067200 * 10**6  # 2024-01-01
DAY_US = 86400 * 10**6


def rows_at(scale):
    return {t: max(1, int(round(n * scale / 0.1))) for t, n in BASE_ROWS.items()}


def _pick(rng, choices, n):
    return pa.array(np.asarray(choices, dtype=object)[rng.integers(0, len(choices), n)],
                    type=pa.string())


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def base_tables(seed, scale):
    """The single-copy tables. Keys are fixed; values come from `seed`."""
    n = rows_at(scale)
    rng = np.random.default_rng(seed)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS)})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})

    nc = n["customer"]
    ck = np.arange(nc, dtype=np.int64)
    t["customer"] = pa.table({
        "c_custkey": ck,
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
        "c_nationkey": (ck * 7 % 25).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": _pick(rng, SEGMENTS, nc)})

    ns = n["supplier"]
    sk = np.arange(ns, dtype=np.int64)
    t["supplier"] = pa.table({
        "s_suppkey": sk,
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
        "s_nationkey": (sk * 11 % 25).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns)})

    npart = n["part"]
    pk = np.arange(npart, dtype=np.int64)
    w1 = rng.integers(0, len(PART_WORDS), npart)
    w2 = rng.integers(0, len(PART_WORDS), npart)
    t["part"] = pa.table({
        "p_partkey": pk,
        "p_name": pa.array([f"{PART_WORDS[a]} {PART_WORDS[b]}" for a, b in zip(w1, w2)]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, npart)]),
        "p_type": _pick(rng, PART_TYPES, npart),
        "p_size": rng.integers(1, 51, npart).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0 + rng.uniform(0, 100, npart), 2)})

    no = n["orders"]
    ok = np.arange(no, dtype=np.int64)
    t["orders"] = pa.table({
        "o_orderkey": ok,
        "o_custkey": (ok * 7919) % nc,
        "o_orderstatus": _pick(rng, STATUSES, no),
        "o_totalprice": _money(rng, 1000.0, 500000.0, no),
        "o_orderdate": pa.array(EPOCH_1995_US + rng.integers(0, 2405, no) * DAY_US,
                                type=pa.timestamp("us")),
        "o_orderpriority": _pick(rng, PRIORITIES, no)})

    nl = n["lineitem"]
    li = np.arange(nl, dtype=np.int64)
    qty = rng.integers(1, 51, nl).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": li // 4 % no,
        "l_partkey": (li * 104729) % npart,
        "l_suppkey": (li * 131) % ns,
        "l_linenumber": (li % 7 + 1).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2000.0, nl), 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], nl),
        "l_linestatus": _pick(rng, ["F", "O"], nl),
        "l_shipdate": pa.array(EPOCH_1995_US + rng.integers(0, 2600, nl) * DAY_US,
                               type=pa.timestamp("us"))})

    ne = n["events"]
    ek = np.arange(ne, dtype=np.int64)
    step = 30 * DAY_US // ne
    t["events"] = pa.table({
        "event_id": ek,
        "ts": pa.array(EPOCH_2024_US + ek * step + rng.integers(0, step, ne),
                       type=pa.timestamp("us")),
        "user_id": (ek * 37) % max(1, nc // 10),
        "event_type": _pick(rng, EVENT_TYPES, ne),
        "value": _money(rng, 0.0, 100.0, ne),
        "props": pa.array([f'{{"k": {v}}}' for v in rng.integers(0, 100, ne)])})

    nd = n["documents"]
    lens = rng.integers(8, 80, nd)
    words = np.asarray(WORDS, dtype=object)[rng.integers(0, len(WORDS), int(lens.sum()))]
    cuts = np.concatenate([[0], np.cumsum(lens)])
    texts = [" ".join(words[cuts[i]:cuts[i + 1]]) for i in range(nd)]
    t["documents"] = pa.table({
        "doc_id": np.arange(nd, dtype=np.int64),
        "text": pa.array(texts),
        "lang": _pick(rng, LANGS, nd),
        "source": pa.array([f"src{s}" for s in rng.integers(0, 20, nd)]),
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64)})

    nv = n["embeddings"]
    vecs = rng.normal(0.0, 0.12, (nv, 64)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(vecs.reshape(-1)), 64).cast(pa.list_(pa.float32())),
        "label": rng.integers(0, 10, nv).astype(np.int32)})
    return t


# key columns offset per copy (ScaleUp.replicate's list)
REPLICATED_KEYS = {
    "customer": ["c_custkey"], "supplier": ["s_suppkey"], "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"], "documents": ["doc_id"],
    "embeddings": ["vec_id"]}


def replicate(table, name, copies):
    """`copies` copies of one table under the key-offset scheme."""
    if copies == 1 or name not in REPLICATED_KEYS:
        return table
    n = table.num_rows
    copy_i = np.repeat(np.arange(copies, dtype=np.int64), n)
    cols = {}
    for f in table.schema:
        c = table.column(f.name).combine_chunks()
        if f.name in REPLICATED_KEYS[name]:
            cols[f.name] = np.tile(c.to_numpy(), copies) + copy_i * KEY_OFFSET
        else:
            cols[f.name] = pa.concat_arrays([c] * copies)
    if name == "documents":
        base = table.column("text").to_pylist()
        texts = list(base)
        for k in range(1, copies):
            texts += [" ".join(f"c{k}~{w}" for w in s.split(" ")) for s in base]
        cols["text"] = pa.array(texts)
        cols["n_chars"] = np.array([len(s) for s in texts], dtype=np.int64)
    return pa.table(cols, schema=table.schema)


def generate(out_dir, seed, scale, copies):
    """Write the input set to `out_dir` unless a complete one is there
    (then mark it as the most recently used, for `evict`).

    Returns the row count of every table."""
    stamp = os.path.join(out_dir, "_COMPLETE")
    counts = {t: c * copies for t, c in rows_at(scale).items()}
    counts.update(region=5, nation=25)
    if os.path.exists(stamp):
        os.utime(out_dir)
        return counts
    tables = base_tables(seed, scale)
    tmp = out_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, tb in tables.items():
        pq.write_table(replicate(tb, name, copies),
                       os.path.join(tmp, f"{name}.parquet"))
    shutil.rmtree(out_dir, ignore_errors=True)
    os.rename(tmp, out_dir)
    open(stamp, "w").close()
    return counts


def evict(inputs_dir, keep):
    """Drop all but the `keep` most recently used input sets."""
    if not os.path.isdir(inputs_dir):
        return
    sets = sorted((os.path.getmtime(os.path.join(inputs_dir, d)), d)
                  for d in os.listdir(inputs_dir))
    for _, d in sets[:-keep]:
        shutil.rmtree(os.path.join(inputs_dir, d), ignore_errors=True)

"""Seeded generator for the ten tables the declared queries read.

The shapes follow FIXTURES.md: a TPC-H-like star schema with independent
uniform columns, an `events` stream table, a synthetic token corpus with
near-duplicate copies, and unit-norm 64-d embeddings. Row counts scale
with `sf` the way the fixtures do (documents and embeddings have a floor
of 500 rows).

`copies > 1` applies tools/make100x.py's growth model: fact tables are
cloned with consistently shifted keys into one parquet file per copy,
dimension tables stay as they are, every document copy gets its own tag
token every 7 words, and every embedding copy a small seeded
perturbation.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.41, 0.15, 0.15, 0.14, 0.15]
WORDS = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
DAY_US = 86_400_000_000
FACTS = ["orders", "lineitem", "events", "documents", "embeddings"]


def _ts(days_since_epoch_us):
    return pa.array(days_since_epoch_us, pa.timestamp("us"))


def _epoch_us(y, m, d):
    return int(np.datetime64(f"{y:04d}-{m:02d}-{d:02d}", "us").astype(np.int64))


def _pick(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)],
                    pa.string())


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _day_range(rng, start, end, n):
    days = (end - start) // DAY_US
    return _ts(start + rng.integers(0, days + 1, n) * DAY_US)


def base_tables(sf, seed):
    """All ten tables at scale factor `sf` as pyarrow tables."""
    rng = np.random.default_rng(seed)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1_500, int(1_500_000 * sf))
    n_li = 4 * n_ord
    n_ev = max(1_000, int(1_000_000 * sf))
    n_user = max(150, int(15_000 * sf))
    n_doc = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))

    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS, pa.string())})
    nk = np.arange(25, dtype=np.int32)
    t["nation"] = pa.table({
        "n_nationkey": nk,
        "n_name": pa.array([f"NATION_{i}" for i in nk], pa.string()),
        "n_regionkey": nk % 5})
    ck = np.arange(n_cust, dtype=np.int64)
    t["customer"] = pa.table({
        "c_custkey": ck,
        "c_name": pa.array([f"Customer#{i:09d}" for i in ck], pa.string()),
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust)})
    sk = np.arange(n_supp, dtype=np.int64)
    t["supplier"] = pa.table({
        "s_suppkey": sk,
        "s_name": pa.array([f"Supplier#{i:09d}" for i in sk], pa.string()),
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    pk = np.arange(n_part, dtype=np.int64)
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    t["part"] = pa.table({
        "p_partkey": pk,
        "p_name": _pick(rng, names, n_part),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
                            pa.string()),
        "p_type": _pick(rng, PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1)})
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _day_range(rng, _epoch_us(1995, 1, 1),
                                  _epoch_us(2001, 8, 1), n_ord),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord)})
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
        "l_linestatus": _pick(rng, ["F", "O"], n_li),
        "l_shipdate": _day_range(rng, _epoch_us(1995, 1, 2),
                                 _epoch_us(2001, 11, 4), n_li)})
    ev_start = _epoch_us(2024, 1, 1)
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts(ev_start + np.sort(rng.integers(0, 30 * DAY_US, n_ev))),
        "user_id": rng.integers(0, n_user, n_ev),
        "event_type": _pick(rng, EVENT_TYPES, n_ev),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_ev), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
                          pa.string())})
    t["documents"] = _documents(rng, n_doc)
    vecs = rng.standard_normal((n_emb, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_emb).astype(np.int32)})
    return t


def _documents(rng, n):
    """Token texts of 8-95 words; ~5% copy an earlier text plus a `dup`
    token (near-duplicates) and ~0.2% copy one exactly."""
    words = np.asarray(WORDS, dtype=object)
    texts = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.05:
            texts.append(texts[rng.integers(0, i)] + " dup")
        elif i > 10 and r < 0.052:
            texts.append(texts[rng.integers(0, i)])
        else:
            texts.append(" ".join(words[rng.integers(0, len(WORDS),
                                                     rng.integers(8, 96))]))
    ta = pa.array(texts, pa.string())
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": ta,
        "lang": _pick(rng, LANGS, n, LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pc.utf8_length(ta).cast(pa.int64())})


def _shift(tbl, col, by):
    return tbl.set_column(tbl.schema.get_field_index(col), col,
                          pc.add(tbl.column(col), by))


def _copy(name, t, k, steps):
    if k == 0:
        return t
    if name == "orders":
        return _shift(t, "o_orderkey", k * steps["order"])
    if name == "lineitem":
        return _shift(t, "l_orderkey", k * steps["order"])
    if name == "events":
        return _shift(_shift(t, "event_id", k * steps["event"]),
                      "user_id", k * steps["user"])
    if name == "documents":
        tag = f"x{k:03d}"
        texts = []
        for text in t.column("text").to_pylist():
            w = text.split(" ")
            out = []
            for i in range(0, len(w), 7):
                out.extend(w[i:i + 7])
                out.append(tag)
            texts.append(" ".join(out))
        ta = pa.array(texts, pa.string())
        return pa.table({
            "doc_id": pc.add(t.column("doc_id"), k * steps["doc"]),
            "text": ta,
            "lang": t.column("lang"),
            "source": t.column("source"),
            "n_chars": pc.utf8_length(ta).cast(pa.int64())})
    if name == "embeddings":
        vecs = np.stack(t.column("embedding").to_numpy(zero_copy_only=False))
        pert = vecs + np.random.default_rng(k).normal(
            0.0, 0.02, vecs.shape).astype(np.float32)
        return pa.table({
            "vec_id": pc.add(t.column("vec_id"), k * steps["vec"]),
            "embedding": pa.array(list(pert), pa.list_(pa.float32())),
            "label": t.column("label")})
    raise ValueError(name)


def generate(out, sf, seed, copies=1):
    """Writes `<out>/<table>.parquet`: a file per table when copies == 1,
    else a directory holding one file per copy for each fact table."""
    os.makedirs(out, exist_ok=True)
    t = base_tables(sf, seed)
    for name, tbl in t.items():
        if copies == 1 or name not in FACTS:
            pq.write_table(tbl, os.path.join(out, f"{name}.parquet"))
    if copies == 1:
        return
    steps = {"order": t["orders"].num_rows, "event": t["events"].num_rows,
             "user": pc.max(t["events"].column("user_id")).as_py() + 1,
             "doc": t["documents"].num_rows, "vec": t["embeddings"].num_rows}
    for name in FACTS:
        d = os.path.join(out, f"{name}.parquet")
        os.makedirs(d, exist_ok=True)
        for k in range(copies):
            pq.write_table(_copy(name, t[name], k, steps),
                           os.path.join(d, f"c{k:03d}.parquet"))

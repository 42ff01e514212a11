"""Seeded input generator for the benchmark.

Every input the program sees is made here from one integer seed: the same
seed gives byte-identical tables and change scripts. The tables follow the
schemas of the program's fixtures (FIXTURES.md): the same column names and
arrow types, the same value domains, unique primary keys and whole
foreign keys. `check_tables` asserts those properties on every generation.

    python3 perfbench/gen.py --check-schema <fixture_dir>

generates every table at the benchmark's sizes and compares column names
and types with the parquet files in <fixture_dir> (the sf0.1 fixture).
"""
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# sf0.1 row counts of the relational and events tables
SF01 = {"customer": 15000, "supplier": 1000, "part": 20000,
        "orders": 150000, "lineitem": 600000, "events": 100000}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "old", "red", "shiny", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "plate", "ring", "spring", "valve",
             "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.14, 0.41, 0.15, 0.15, 0.15]
# the fixture corpus vocabulary (31 words)
VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "dup",
         "fast", "filter", "group", "hash", "join", "key", "line", "merge",
         "order", "part", "query", "row", "scan", "slow", "small", "sort",
         "spark", "stream", "table", "the", "value", "vector", "window"]
# non-ASCII words per language: every non-`en` document carries some
NATIVE = {
    "de": ["größe", "über", "straße", "schlüssel", "prüfung", "bücher"],
    "es": ["niño", "año", "señal", "categoría", "índice", "página"],
    "fr": ["été", "garçon", "données", "requête", "clé", "fenêtre"],
    "zh": ["数据", "查询", "向量", "表格", "索引", "窗口"],
}
EMBED_DIM = 64
N_LABELS = 10

US_DAY = 86_400_000_000
EPOCH_1995 = 788_918_400_000_000      # 1995-01-01 in µs since epoch
EPOCH_2024 = 1_704_067_200_000_000    # 2024-01-01 in µs since epoch
ORDER_DAYS = 2404                      # 1995-01-01 .. 2001-08-01


def _ts(us):
    return pa.array(np.asarray(us, dtype=np.int64), pa.timestamp("us"))


def _cents(rng, lo, hi, n):
    """Prices as whole cents in [lo, hi] dollars, and as 2-dp doubles."""
    c = rng.integers(int(lo * 100), int(hi * 100) + 1, n)
    return c, c / 100.0


def relational(rng):
    """The TPC-H-like star schema at sf0.1 sizes."""
    n_c, n_s, n_p = SF01["customer"], SF01["supplier"], SF01["part"]
    n_o, n_l = SF01["orders"], SF01["lineitem"]
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS)})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_c, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_c)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_c).astype(np.int32)),
        "c_acctbal": pa.array(_cents(rng, -999.99, 9999.99, n_c)[1]),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, n_c)])})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_s, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_s)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_s).astype(np.int32)),
        "s_acctbal": pa.array(_cents(rng, -999.99, 9999.99, n_s)[1])})
    names = np.array([f"{a} {b}" for a in PART_ADJ for b in PART_NOUN])
    pk = np.arange(n_p, dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": pa.array(pk),
        "p_name": pa.array(names[rng.integers(0, len(names), n_p)]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_p)]),
        "p_type": pa.array(np.array(PART_TYPES)[rng.integers(0, 6, n_p)]),
        "p_size": pa.array(rng.integers(1, 51, n_p).astype(np.int32)),
        "p_retailprice": pa.array((90000 + (pk % 1000) * 10) / 100.0)})
    odays = rng.integers(0, ORDER_DAYS + 1, n_o)
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_o, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_c, n_o).astype(np.int64)),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[
            rng.choice(3, n_o, p=[0.49, 0.49, 0.02])]),
        "o_totalprice": pa.array(_cents(rng, 1000.0, 500000.0, n_o)[1]),
        "o_orderdate": _ts(EPOCH_1995 + odays * US_DAY),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[
            rng.integers(0, 5, n_o)])})
    lok = np.sort(rng.integers(0, n_o, n_l)).astype(np.int64)
    lnum = rng.integers(1, 8, n_l).astype(np.int32)
    lpart = rng.integers(0, n_p, n_l).astype(np.int64)
    lsupp = rng.integers(0, n_s, n_l).astype(np.int64)
    # (l_orderkey, l_linenumber, l_partkey, l_suppkey) is the full
    # deterministic line key the program's windows order by: redraw the
    # supplier of any repeat until none is left
    while True:
        key = np.stack([lok, lnum.astype(np.int64), lpart, lsupp], axis=1)
        _, first = np.unique(key, axis=0, return_index=True)
        rep = np.setdiff1d(np.arange(n_l), first)
        if rep.size == 0:
            break
        lsupp[rep] = rng.integers(0, n_s, rep.size)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(lok),
        "l_partkey": pa.array(lpart),
        "l_suppkey": pa.array(lsupp),
        "l_linenumber": pa.array(lnum),
        "l_quantity": pa.array(rng.integers(1, 51, n_l).astype(np.float64)),
        "l_extendedprice": pa.array(_cents(rng, 900.0, 105000.0, n_l)[1]),
        "l_discount": pa.array(rng.integers(0, 11, n_l) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_l) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[
            rng.integers(0, 3, n_l)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_l)]),
        "l_shipdate": _ts(EPOCH_1995 + (odays[lok] + rng.integers(1, 96, n_l))
                          * US_DAY)})
    return t


def events(rng, n=SF01["events"]):
    """Click-stream events over January 2024, event_id in time order."""
    ts = np.sort(rng.choice(30 * US_DAY, n, replace=False)) + EPOCH_2024
    et = rng.choice(5, n, p=[0.35, 0.05, 0.1, 0.05, 0.45])
    scale = np.array([20.0, 5.0, 120.0, 10.0, 15.0])[et]
    value = np.minimum(np.round(rng.exponential(scale), 2), 560.21)
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": _ts(ts),
        "user_id": pa.array(rng.integers(0, 1500, n).astype(np.int64)),
        "event_type": pa.array(np.array(EVENT_TYPES)[et]),
        "value": pa.array(value),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)])})


def documents(rng, n, near_dup_share=0.1, exact_dup_share=0.01):
    """A multilingual word-soup corpus with planted duplicates.

    Non-`en` documents mix native non-ASCII words into the shared
    vocabulary. A `near_dup_share` of documents copy an earlier document
    with one ASCII word replaced by "dup"; an `exact_dup_share` copy one
    verbatim.
    """
    langs = rng.choice(len(LANGS), n, p=LANG_P)
    lens = rng.integers(8, 101, n)
    vocab = np.array(VOCAB)
    texts = []
    kind = rng.random(n)
    for i in range(n):
        lang = LANGS[langs[i]]
        if i >= 10 and kind[i] < near_dup_share + exact_dup_share:
            src = int(rng.integers(0, i))
            langs[i] = langs[src]
            words = texts[src].split(" ")
            if kind[i] >= exact_dup_share and len(words) >= 10:
                # replace an ASCII word, so the copy keeps its native ones
                ascii_at = [j for j, w in enumerate(words) if w.isascii()]
                words[ascii_at[int(rng.integers(0, len(ascii_at)))]] = "dup"
            texts.append(" ".join(words))
            continue
        words = vocab[rng.integers(0, len(vocab), lens[i])]
        if lang != "en":
            native = np.array(NATIVE[lang])
            mask = rng.random(lens[i]) < 0.15
            mask[rng.integers(0, lens[i])] = True
            words = np.where(mask, native[rng.integers(0, len(native),
                                                       lens[i])], words)
        texts.append(" ".join(words))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(np.array(LANGS)[langs]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(x) for x in texts], np.int64)),
    })


def embeddings(rng, n):
    """Vectors around N_LABELS planted centres; `label` is the centre."""
    centres = rng.normal(0.0, 1.0, (N_LABELS, EMBED_DIM))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    label = rng.integers(0, N_LABELS, n)
    vec = centres[label] + rng.normal(0.0, 0.35 / np.sqrt(EMBED_DIM),
                                      (n, EMBED_DIM))
    vec = vec.astype(np.float32)
    flat = pa.array(vec.reshape(-1))
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, n * EMBED_DIM + 1, EMBED_DIM, np.int32)),
            flat, type=pa.list_(pa.field("element", pa.float32()))),
        "label": pa.array(label.astype(np.int32))})


def check_tables(t):
    """Unique keys, whole foreign keys and value domains (FIXTURES.md)."""
    def col(name, c):
        return t[name].column(c).to_numpy(zero_copy_only=False)

    def unique(name, c):
        v = col(name, c)
        assert len(np.unique(v)) == len(v), f"{name}.{c} is not unique"
        return v

    def fk(name, c, ref):
        assert np.isin(col(name, c), ref).all(), f"{name}.{c} dangles"

    def domain(name, c, values):
        assert set(np.unique(col(name, c))) <= set(values), \
            f"{name}.{c} outside {values}"

    if "orders" in t:
        cust = unique("customer", "c_custkey")
        supp = unique("supplier", "s_suppkey")
        part = unique("part", "p_partkey")
        orders = unique("orders", "o_orderkey")
        nation = unique("nation", "n_nationkey")
        fk("nation", "n_regionkey", unique("region", "r_regionkey"))
        fk("customer", "c_nationkey", nation)
        fk("supplier", "s_nationkey", nation)
        fk("orders", "o_custkey", cust)
        fk("lineitem", "l_orderkey", orders)
        fk("lineitem", "l_partkey", part)
        fk("lineitem", "l_suppkey", supp)
        domain("orders", "o_orderstatus", "FOP")
        domain("orders", "o_orderpriority", PRIORITIES)
        domain("lineitem", "l_returnflag", "ANR")
        domain("lineitem", "l_linestatus", "FO")
        domain("customer", "c_mktsegment", SEGMENTS)
        assert (col("orders", "o_orderpriority") == "1-URGENT").any()
        q = col("lineitem", "l_discount")
        assert ((q >= 0) & (q <= 0.1)).all()
        li = t["lineitem"].select(["l_orderkey", "l_linenumber",
                                   "l_partkey", "l_suppkey"])
        assert li.group_by(li.column_names).aggregate([]).num_rows \
            == li.num_rows, "lineitem line key is not unique"
    if "events" in t:
        unique("events", "event_id")
        domain("events", "event_type", EVENT_TYPES)
        ts = col("events", "ts").astype(np.int64)
        assert (np.diff(ts) > 0).all(), "events.ts not increasing"
    if "documents" in t:
        unique("documents", "doc_id")
        domain("documents", "lang", LANGS)
        text = col("documents", "text")
        assert all(len(x) == n for x, n in
                   zip(text, col("documents", "n_chars")))
        lang = col("documents", "lang")
        assert all(any(ord(ch) > 127 for ch in x)
                   for x, g in zip(text, lang) if g != "en"), \
            "a non-en document has no non-ASCII word"
    if "embeddings" in t:
        unique("embeddings", "vec_id")
        emb = t["embeddings"].column("embedding").combine_chunks()
        assert (np.diff(emb.offsets.to_numpy()) == EMBED_DIM).all()
        domain("embeddings", "label", range(N_LABELS))


# ---- CDC change script -------------------------------------------------

MYSQL_TYPE = json.dumps({
    "o_orderkey": "bigint(20)", "o_custkey": "bigint(20)",
    "o_orderstatus": "char(1)", "o_totalprice": "decimal(15,2)",
    "o_orderdate": "datetime", "o_orderpriority": "varchar(15)"},
    separators=(",", ":"))


def _image(key, cust, status, cents, day, prio):
    date = np.datetime64(EPOCH_1995 + int(day) * US_DAY, "us")
    return ('{"o_orderkey":"%d","o_custkey":"%d","o_orderstatus":"%s",'
            '"o_totalprice":"%s","o_orderdate":"%s","o_orderpriority":"%s"}'
            % (key, cust, status, _price(cents),
               str(date).replace("T", " "), prio))


def _price(cents):
    return "%d.%02d" % divmod(int(cents), 100)


def change_script(rng, n_orders, n_changes, n_customers=15000):
    """A Canal change script over the orders table.

    A snapshot INSERT of `n_orders` rows, then `n_changes` UPDATEs and
    DELETEs on live keys drawn from a Zipf-skewed key distribution.
    `es` strictly increases along the script, `ts = es + 500`. Returns
    the envelope JSON lines and, per event, (orderkey, custkey, cents or
    -1 for a delete).
    """
    cust = rng.integers(0, n_customers, n_orders)
    cents = rng.integers(100000, 50000001, n_orders)
    status = np.array(["F", "O", "P"])[rng.integers(0, 3, n_orders)]
    days = rng.integers(0, ORDER_DAYS + 1, n_orders)
    prio = np.array(PRIORITIES)[rng.integers(0, 5, n_orders)]
    es0 = 1_700_000_000_000
    lines, ops = [], []

    def envelope(i, typ, key, data, old):
        es = es0 + i
        return ('{"id":%d,"database":"demo","table":"orders",'
                '"pkNames":["o_orderkey"],"isDdl":false,"type":"%s",'
                '"es":%d,"ts":%d,"sql":"","mysqlType":%s,"data":[%s],'
                '"old":%s}' % (i, typ, es, es + 500, MYSQL_TYPE, data, old))

    for k in range(n_orders):
        img = _image(k, cust[k], status[k], cents[k], days[k], prio[k])
        lines.append(envelope(k, "INSERT", k, img, "null"))
        ops.append((k, cust[k], cents[k]))
    live = np.ones(n_orders, bool)
    # Zipf-skewed keys over a seeded permutation, so the hot keys differ
    # between seeds and are spread over the key space
    perm = rng.permutation(n_orders)
    made = 0
    while made < n_changes:
        ranks = rng.zipf(1.3, n_changes) - 1
        ranks = ranks[ranks < n_orders]
        is_delete = rng.random(len(ranks)) < 0.05
        new_cents = rng.integers(100000, 50000001, len(ranks))
        for r, dele, nc in zip(ranks, is_delete, new_cents):
            if made == n_changes:
                break
            k = int(perm[r])
            if not live[k]:
                continue
            i = n_orders + made
            if dele:
                img = _image(k, cust[k], status[k], cents[k], days[k],
                             prio[k])
                lines.append(envelope(i, "DELETE", k, img, "null"))
                live[k] = False
                ops.append((k, cust[k], -1))
            else:
                old = '[{"o_totalprice":"%s"}]' % _price(cents[k])
                cents[k] = nc
                img = _image(k, cust[k], status[k], cents[k], days[k],
                             prio[k])
                lines.append(envelope(i, "UPDATE", k, img, old))
                ops.append((k, cust[k], int(nc)))
            made += 1
    return lines, ops


def replay(ops):
    """The state a change script leaves: live orderkey -> (custkey, cents)."""
    state = {}
    for key, cust, cents in ops:
        if cents < 0:
            state.pop(key, None)
        else:
            state[key] = (cust, cents)
    return state


def write_tables(tables, out):
    os.makedirs(out, exist_ok=True)
    for name, tab in tables.items():
        pq.write_table(tab, f"{out}/{name}.parquet")


def check_schema(fixture_dir):
    rng = np.random.default_rng(0)
    tables = relational(rng)
    tables["events"] = events(rng)
    tables["documents"] = documents(rng, 2000)
    tables["embeddings"] = embeddings(rng, 500)
    check_tables(tables)
    bad = 0
    for name, tab in sorted(tables.items()):
        want = pq.read_schema(f"{fixture_dir}/{name}.parquet")
        got = [(f.name, str(f.type)) for f in tab.schema]
        exp = [(f.name, str(f.type)) for f in want]
        print(f"{'ok ' if got == exp else 'BAD'} {name}: {got}")
        bad += got != exp
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    if len(sys.argv) == 3 and sys.argv[1] == "--check-schema":
        check_schema(sys.argv[2])
    sys.exit("usage: gen.py --check-schema <fixture_dir>")

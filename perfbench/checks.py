"""Output checks, made apart from the program on every run.

- Keys with an `oracleSql`: DuckDB runs the key's oracle SQL over the same
  generated parquet files; the program's result must hold the same rows
  (as a multiset, columns matched by name, integer widths interchangeable,
  every other type exact).
- Approximate LLM keys: a bound the method must meet against a
  brute-force computation here (README.md derives each bound).
- `dedup_cluster`: its oracle SQL recomputed in Python, because DuckDB's
  recursive CTE is too slow for a check on every run.
- cdc_ingest: the published base and the routed MV read at the end of each
  phase must equal a replay of the generated change script.
"""
import glob
import json
import math
import os
from collections import defaultdict

import duckdb
import numpy as np
import pyarrow.types as pt

import gen

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def check(workload, rec, data, out, inputs):
    """Returns (values the metrics need, list of problems found)."""
    if workload == "cdc_ingest":
        return check_cdc(rec, out, inputs)
    problems = [f"{k}: a later result differs from the first"
                for k in rec["workload"]["drift"]]
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        p = os.path.join(data, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    with open(os.path.join(out, "oracle.json")) as f:
        oracle = json.load(f)
    ran = {k for k, _, _, _ in rec["workload"]["calls"]}
    for key in sorted(ran & set(oracle) - set(RECOMPUTED)):
        problems += compare(con, key, oracle[key], result(out, key))
    for key in sorted(ran & set(RECOMPUTED)):
        problems += RECOMPUTED[key](con, result(out, key))
    extra = {"probes": {}}
    if workload == "llm_pipeline":
        # query vectors a search key answers: its distinct probes
        for key, group, _, _ in rec["workload"]["calls"]:
            if group == "llm.vector":
                extra["probes"][key] = con.execute(
                    f"SELECT count(DISTINCT probe_id) FROM read_parquet("
                    f"'{result(out, key)}')").fetchone()[0]
    return extra, problems


def result(out, key):
    return os.path.join(out, "results", key, "*.parquet")


def compare(con, key, sql, path):
    try:
        want = con.execute(sql).fetch_arrow_table()
    except Exception as e:  # an oracle that cannot run is a failed check
        return [f"{key}: oracle SQL failed: {e}"]
    got = con.execute(f"SELECT * FROM read_parquet('{path}')").fetch_arrow_table()
    wc, gc = sorted(want.column_names), sorted(got.column_names)
    if wc != gc:
        return [f"{key}: columns differ: oracle={wc} program={gc}"]

    def tclass(t):
        return "int" if pt.is_integer(t) else str(t)
    for c in wc:
        tw, tg = want.schema.field(c).type, got.schema.field(c).type
        if tclass(tw) != tclass(tg):
            return [f"{key}: column {c} type oracle={tw} program={tg}"]
    if want.num_rows != got.num_rows:
        return [f"{key}: {got.num_rows} rows, oracle {want.num_rows}"]

    def norm(v):
        if isinstance(v, float):
            if v != v:
                return ("nan",)
            if v == 0.0:
                return 0.0
        return v

    def rows(t):
        cols = [t.column(c).to_pylist() for c in wc]
        return sorted((tuple(norm(v) for v in r) for r in zip(*cols)), key=repr)
    w, g = rows(want), rows(got)
    for rw, rg in zip(w, g):
        if rw != rg:
            return [f"{key}: row differs: oracle={rw} program={rg}"]
    return []


# ---- approximate LLM keys ----------------------------------------------

def check_lsh_knn(con, path):
    """Bucketed random projection LSH (bucket length 0.5, 4 tables) over
    probes vec_id % 50 = 0, reporting candidates within L2 distance 1.2.
    Every reported distance must be exact; recall against brute force must
    reach the bound derived in README.md."""
    rows = con.execute("SELECT vec_id, embedding FROM embeddings "
                       "ORDER BY vec_id").fetchall()
    ids = np.array([r[0] for r in rows])
    vec = np.array([r[1] for r in rows], dtype=np.float64)
    got = np.array(con.execute(
        f"SELECT probe_id, cand_id, dist FROM read_parquet('{path}')").fetchall())
    problems = []
    pos = {v: i for i, v in enumerate(ids)}
    if len(got):
        p, c = (np.array([pos[v] for v in got[:, j]]) for j in (0, 1))
        exact = np.linalg.norm(vec[p] - vec[c], axis=1)
        bad = (np.abs(exact - got[:, 2]) > 2e-6) | (exact > 1.2 + 1e-9)
        if bad.any() or len({(a, b) for a, b in got[:, :2]}) != len(got):
            problems.append(f"sim_lsh_knn: {int(bad.sum())} reported distances "
                            "are not exact, or a pair repeats")
    probes = ids[ids % 50 == 0]
    dim = vec.shape[1]
    truth, bound = 0, 0.0
    for p in probes:
        d = np.linalg.norm(vec - vec[pos[p]], axis=1)
        for dist, cid in zip(d, ids):
            if cid != p and dist <= 1.2:
                truth += 1
                bound += 1 - (1 - brp_collision(dist, 0.5, dim)) ** 4
    if truth:
        recall = len(got) / truth
        floor = bound / truth - RECALL_SLACK
        if recall < floor:
            problems.append(f"sim_lsh_knn: recall {recall:.3f} over {truth} "
                            f"pairs, bound {floor:.3f}")
    return problems


def brp_collision(dist, bucket, dim):
    """P(two points at L2 distance `dist` share a bucket of one table):
    MLlib projects on a random unit vector, so the projected gap is
    ~N(0, dist^2 / dim); with r = bucket * sqrt(dim) / dist this is the
    p-stable bound of Datar et al. (2004) for a randomly offset bucket,
    1 - 2 Phi(-r) - 2 / (sqrt(2 pi) r) (1 - exp(-r^2 / 2)). MLlib's buckets
    are not randomly offset; README.md explains why the bound still holds
    in expectation."""
    if dist == 0:
        return 1.0
    r = bucket * math.sqrt(dim) / dist
    phi = 0.5 * (1 + math.erf(-r / math.sqrt(2)))
    return 1 - 2 * phi - 2 / (math.sqrt(2 * math.pi) * r) * (1 - math.exp(-r * r / 2))


def check_dedup_cluster(con, path):
    """The key's oracleSql recomputed here: connected components of the
    token-set Jaccard >= 0.8 graph over doc_id % 10 = 0, each document
    labelled with the smallest doc_id of its component. (DuckDB's
    recursive CTE takes over ten seconds at this corpus size.)"""
    docs = con.execute("SELECT doc_id, text FROM documents "
                       "WHERE doc_id % 10 = 0 ORDER BY doc_id").fetchall()
    ids = [d for d, _ in docs]
    sets = [set(t.split(" ")) for _, t in docs]
    parent = list(range(len(ids)))

    def root(i):
        while parent[i] != i:
            parent[i] = parent[parent[i]]
            i = parent[i]
        return i
    for i, a in enumerate(sets):
        for j in range(i + 1, len(sets)):
            n = len(a & sets[j])
            if n / (len(a) + len(sets[j]) - n) >= 0.8:
                parent[root(j)] = root(i)
    low = {}
    for i, d in enumerate(ids):
        low[root(i)] = min(low.get(root(i), d), d)
    want = [(d, low[root(i)], d == low[root(i)]) for i, d in enumerate(ids)]
    got = con.execute(f"SELECT doc_id, cluster_id, is_canonical FROM "
                      f"read_parquet('{path}') ORDER BY doc_id").fetchall()
    if got != want:
        diff = next(((g, w) for g, w in zip(got, want) if g != w), (None, None))
        return [f"dedup_cluster: {len(got)} rows, recomputed {len(want)}; "
                f"first difference program={diff[0]} recomputed={diff[1]}"]
    return []


RECALL_SLACK = 0.05
# keys checked by a computation here instead of DuckDB running oracleSql
RECOMPUTED = {"sim_lsh_knn": check_lsh_knn,
              "dedup_cluster": check_dedup_cluster}


# ---- cdc_ingest ----------------------------------------------------------

def check_cdc(rec, out, inputs):
    w = rec["workload"]
    ops, n_backlog = inputs["ops"], inputs["n_backlog"]
    problems = []
    for phase, upto in (("p1", n_backlog), ("p2", len(ops))):
        state = gen.replay(ops[:upto])
        base = duckdb.sql(
            f"SELECT o_orderkey, o_custkey, o_totalprice FROM read_parquet("
            f"'{out}/results/{phase}_base/**/*.parquet')").fetchall()
        got = {k: (c, round(p * 100)) for k, c, p in base}
        if len(base) != len(got) or got != {k: (int(c), int(v)) for k, (c, v)
                                            in state.items()}:
            problems.append(f"cdc {phase}: published base differs from the "
                            f"replay ({len(base)} rows, replay {len(state)})")
        spend = defaultdict(lambda: [0, 0])
        for c, v in state.values():
            spend[int(c)][0] += int(v)
            spend[int(c)][1] += 1
        mv = duckdb.sql(f"SELECT o_custkey, spend, n_orders FROM read_parquet("
                        f"'{out}/results/{phase}_mv/*.parquet')").fetchall()
        got_mv = {c: [round(s * 100), n] for c, s, n in mv}
        if got_mv != dict(spend):
            problems.append(f"cdc {phase}: routed MV read differs from the "
                            f"replay ({len(got_mv)} groups, replay {len(spend)})")
    # which micro-batch applied each file, from the file source log
    batch_of = {}
    for f in glob.glob(f"{out}/cdc/ckpt/sources/0/*"):
        with open(f) as fh:
            for line in fh:
                if line.startswith("{"):
                    e = json.loads(line)
                    batch_of[os.path.basename(e["path"])] = e["batchId"]
    events = defaultdict(int)
    for name, b in batch_of.items():
        with open(f"{out}/cdc/feed/{name}") as fh:
            events[b] += sum(1 for _ in fh)
    catchup, steady = ({b: (t0, t1) for b, t0, t1 in ph} for ph in w["batches"])
    # catch-up throughput after the first (cold) micro-batch
    first, *rest = sorted(catchup)
    throughput = (sum(events[b] for b in rest)
                  / (catchup[rest[-1]][1] - catchup[first][1])) if rest else 0.0
    lags, drops = [], []
    for name, due, at in w["drops"]:
        b = batch_of.get(name)
        if b not in steady:
            problems.append(f"cdc: steady file {name} was never applied")
            continue
        lags.append(steady[b][1] - due)
        drops.append((at, b))
    backlog = 0
    for b, (_, t) in sorted(steady.items()):
        dropped = sum(1 for at, _ in drops if at <= t)
        applied = sum(1 for _, fb in drops if fb <= b)
        backlog = max(backlog, dropped - applied)
    lateness = max((at - due for _, due, at in w["drops"]), default=0.0)
    # commit time of every warm micro-batch: all but phase 1's first
    commit = [t1 - t0 for b, (t0, t1) in catchup.items() if b != first] + \
        [t1 - t0 for t0, t1 in steady.values()]
    if not (lags and commit and rest):
        problems.append("cdc: a phase ran too few micro-batches to measure")
        lags, commit = lags or [0.0], commit or [0.0]
    return {"lags": lags, "commit": commit, "catchup_per_s": throughput,
            "backlog_max": backlog, "lateness_max": lateness}, problems


def reconcile(workload, rec):
    """How much of the timed wall the layers leave unexplained (a share)."""
    lay = rec["layers"]
    if workload == "cdc_ingest":
        # Spark's addBatch clock against the benchmark's own clock around
        # the same foreachBatch body
        spark = lay.get("stream.add_batch_s", 0.0)
        ours = lay.get("cdc.maintain_s", 0.0) + lay.get("mv.probe_s", 0.0)
        return abs(spark - ours) / spark if spark else 1.0
    prefix = "olap." if workload == "olap_queries" else "llm."
    groups = sum(v for k, v in lay.items() if k.startswith(prefix)
                 and k not in (prefix + "build_s", prefix + "action_s"))
    return abs(rec["wall_s"] - groups) / rec["wall_s"]

"""The three workloads: inputs drawn from the seed, the DuckDB oracle, the
output checks and the metrics each reports.

Every workload is a class; one instance serves one run. prepare(work, seed)
returns the plan (the harness JVM gets only this plan and the files it
names) and keeps what the checks need, check(record) runs after the JVM has
exited, and named(record, ops) gives the workload's own metrics (request,
pass, append and probe latencies, space amplification), each with its
sample count.
"""
import os
import random
import statistics
import sys

import duckdb
import numpy as np
import pyarrow.parquet as pq

import gen

ROOT = os.getcwd()
PAGE = 100
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _check_module():
    """tools/check.py: the repository's oracle canonicalisation."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import check
    return check


def connect(data):
    con = duckdb.connect()
    con.execute(f"SET threads TO {len(os.sched_getaffinity(0))}")
    for t in TABLES:
        path = f"{data}/{t}.parquet"
        src = f"'{path}/**/*.parquet'" if os.path.isdir(path) else f"'{path}'"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM {src}")
    return con


def _plain(v):
    """DuckDB values in the JSON shapes the harness writes."""
    if hasattr(v, "timestamp") and hasattr(v, "microsecond"):
        return int((v - v.__class__(1970, 1, 1)).total_seconds()) * 1_000_000 + v.microsecond
    if isinstance(v, (list, tuple)):
        return [_plain(x) for x in v]
    return v


def canon(cols, rows):
    return _check_module().canon([tuple(_plain(x) for x in r) for r in rows], list(cols))


def pct(values, q):
    return float(np.percentile(values, q)) if values else float("nan")


def timing(values, unit="ms", q=None):
    out = {"value": statistics.median(values) if values else float("nan"),
           "unit": unit, "n": len(values)}
    if q is not None:
        out = {"value": pct(values, q), "unit": unit, "n": len(values),
               "beyond": sum(1 for v in values if v > pct(values, q))}
    return out


def unstolen(ms, steal):
    """A wall time with the share of busy CPU time the host stole during it
    (steal time, read from /proc/stat) taken out: on a shared virtual
    machine that share moves wall times by tens of percent from one run to
    the next while the work stays the same."""
    return ms * (1.0 - steal)


def cycles(ops, size):
    """The complete cycles of a workload's mix, each a list of operations: a
    timed operation's id is "<cycle>/<name>", and a cycle is complete when
    it holds `size` operations."""
    groups = {}
    for o in ops:
        groups.setdefault(o["id"].split("/")[0], []).append(o)
    return [g for g in groups.values() if len(g) == size]


def totals(cycles):
    """Each cycle as one operation: its wall time, CPU time and steal."""
    out = []
    for g in cycles:
        ms = sum(o["ms"] for o in g)
        out.append({"ms": ms, "cpu_ms": sum(o["cpu_ms"] for o in g),
                    "steal": 1.0 - sum(unstolen(o["ms"], o["steal"]) for o in g) / ms})
    return out


def end_to_end(rec, ops):
    """The gated metrics, from the untraced operations of the loop that the
    workload times (`ops`: its timed() selection; an op is a serve request,
    a maintain batch or a pipeline_cold pass). The two wall times, setup_s
    and op_p50_steal_adj_ms, are steal-adjusted (unstolen): a model that
    treats the whole operation as runnable CPU time, so an operation that
    waits (scheduling, listener bus, I/O) is over-corrected by the same
    share. Their raw medians are in the report line, as setup_raw_s and
    op_p50_raw_ms. The CPU an operation costs (client thread plus executor
    tasks) does not depend on steal at all."""
    return {
        "setup_s": {"value": statistics.median(
            unstolen(s, st) for s, st in zip(rec["setup_s"], rec["setup_steal"])), "unit": "s"},
        "op_p50_steal_adj_ms": {"value": statistics.median(
            unstolen(o["ms"], o["steal"]) for o in ops), "unit": "ms"},
        "op_cpu_ms": {"value": statistics.median(o["cpu_ms"] for o in ops), "unit": "ms"},
        "heap_peak_mb": {"value": max(rec["heap_mb"]), "unit": "MB"},
    }


# --------------------------------------------------------------------------
# serve
# --------------------------------------------------------------------------

def _geo_sql_dist(lat, lon):
    return (f"2.0 * 6371.0 * asin(sqrt(pow(sin(radians({lat} - lat) / 2), 2) + "
            f"cos(radians(lat)) * cos(radians({lat})) * pow(sin(radians({lon} - lon) / 2), 2)))")


GEO_LATLON = ("(SELECT c_custkey, (c_custkey % 120) - 60 + 0.25 AS lat, "
              "((c_custkey * 7) % 360) - 180 + 0.25 AS lon FROM customer)")


class Serve:
    """Warm sf0.1 session, closed loop, one client; a fixed mix of small
    reference-parity requests with seeded parameters and order, each
    answering one page at most."""

    SF = 0.1
    POOL_PER_KIND = 4
    SEQUENCE = 2600
    KINDS = ["filter_eq", "filter_in", "filter_range", "filter_or", "filter_string",
             "index_page", "get_by_keys", "keys_exist", "upsert", "increment",
             "nested", "geo", "vector_topk"]

    def timed(self, ops):
        """The requests of complete rounds of every request kind. The median
        request is steadier than the median round: a burst of load on the
        shared host slows a few requests, and every round it overlaps. A
        run ends on a round boundary, so every kind weighs the same."""
        return [o for g in cycles(ops, len(self.KINDS)) for o in g]

    @staticmethod
    def draw(kind, rng, n, emb):
        nc, no = n["customer"], n["orders"]
        if kind == "filter_eq":
            return {"key": rng.randrange(nc)}
        if kind == "filter_in":
            return {"keys": rng.sample(range(nc), 5)}
        if kind == "filter_range":
            lo = round(rng.uniform(1000, 499000), 2)
            return {"status": rng.choice("OPF"), "lo": lo, "hi": round(lo + 400, 2)}
        if kind == "filter_or":
            return {"keys": rng.sample(range(nc), 2), "below": round(1000 + rng.uniform(50, 300), 2)}
        if kind == "filter_string":
            return {"contains": rng.choice(gen.PART_ADJ),
                    "starts": rng.choice(["S", "L", "M", "E", "P", "ST", "SM"]),
                    "ends": str(rng.randrange(10))}
        if kind == "index_page":
            return {"status": rng.choice("OPF"), "axis": rng.choice(["o_orderdate", "o_totalprice"]),
                    "desc": rng.random() < 0.5, "offset": rng.randrange(500), "limit": 20}
        if kind == "get_by_keys":
            return {"keys": rng.sample(range(nc), 8) + [nc + rng.randrange(10**6) for _ in range(2)]}
        if kind == "keys_exist":
            return {"keys": rng.sample(range(nc), 7) + rng.sample(range(nc, nc + 10**6), 3)}
        if kind == "upsert":
            lo = rng.randrange(nc - 40)
            upd = rng.sample(range(lo, lo + 40), 4)
            new = rng.sample(range(nc, nc + 10**6), 2)
            seg = ["BUILDING", "MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD", "NEW"]
            return {"lo": lo, "hi": lo + 39, "delta": [
                [k, round(rng.uniform(-999, 9999), 2), rng.choice(seg)] for k in upd + new]}
        if kind == "increment":
            lo = rng.randrange(nc - 40)
            return {"lo": lo, "hi": lo + 39, "delta": round(rng.uniform(1, 500), 2),
                    "below": round(rng.uniform(0, 5000), 2)}
        if kind == "nested":
            quant = rng.choice(["any", "all", "none", "count"])
            qty = {"any": rng.randint(47, 50), "all": rng.randint(20, 30),
                   "none": rng.randint(25, 35), "count": rng.randint(35, 45)}[quant]
            return {"lo": rng.randrange(no - 200), "span": 200, "quant": quant,
                    "qty": float(qty), "n": 2}
        if kind == "geo":
            k = rng.randrange(nc)
            return {"lat": (k % 120) - 60 + 0.25, "lon": ((k * 7) % 360) - 180 + 0.25,
                    "km": round(rng.uniform(20, 150), 1)}
        if kind == "vector_topk":
            i = rng.randrange(len(emb))
            return {"vec_id": i, "query": [float(x) for x in emb[i]], "k": 10}
        raise ValueError(kind)

    @staticmethod
    def sql(r):
        k = r["kind"]
        inl = lambda ks: ",".join(str(x) for x in ks)
        if k == "filter_eq":
            return f"SELECT * FROM orders WHERE o_custkey = {r['key']}"
        if k == "filter_in":
            return f"SELECT * FROM orders WHERE o_custkey IN ({inl(r['keys'])})"
        if k == "filter_range":
            return (f"SELECT * FROM orders WHERE o_orderstatus = '{r['status']}' AND "
                    f"o_totalprice > {r['lo']} AND o_totalprice <= {r['hi']}")
        if k == "filter_or":
            a, b = r["keys"]
            return (f"SELECT * FROM orders WHERE o_custkey = {a} OR o_custkey = {b} OR "
                    f"(o_orderstatus = 'F' AND o_totalprice < {r['below']})")
        if k == "filter_string":
            return (f"SELECT * FROM part WHERE p_name LIKE '%{r['contains']}%' AND "
                    f"p_type LIKE '{r['starts']}%' AND p_brand LIKE '%{r['ends']}'")
        if k == "index_page":
            d = "DESC" if r["desc"] else "ASC"
            return (f"SELECT * FROM orders WHERE o_orderstatus = '{r['status']}' ORDER BY "
                    f"{r['axis']} {d}, o_orderkey ASC LIMIT {r['limit']} OFFSET {r['offset']}")
        if k == "get_by_keys":
            return f"SELECT * FROM customer WHERE c_custkey IN ({inl(r['keys'])})"
        if k == "keys_exist":
            vals = ",".join(f"({x}::BIGINT)" for x in r["keys"])
            return (f"SELECT k AS key, k IN (SELECT c_custkey FROM customer) AS is_present "
                    f"FROM (VALUES {vals}) v(k)")
        if k == "upsert":
            vals = ",".join(f"({c}::BIGINT, {b}::DOUBLE, '{s}')" for c, b, s in r["delta"])
            return f"""WITH b AS (SELECT c_custkey, c_acctbal, c_mktsegment FROM customer
                        WHERE c_custkey BETWEEN {r['lo']} AND {r['hi']}),
                   d AS (SELECT * FROM (VALUES {vals}) v(c_custkey, c_acctbal, c_mktsegment))
              SELECT coalesce(b.c_custkey, d.c_custkey) AS c_custkey,
                round(CASE WHEN d.c_custkey IS NOT NULL THEN d.c_acctbal ELSE b.c_acctbal END, 2) AS bal,
                CASE WHEN d.c_custkey IS NOT NULL THEN d.c_mktsegment ELSE b.c_mktsegment END AS c_mktsegment,
                CASE WHEN b.c_custkey IS NULL THEN 'NEW'
                     WHEN d.c_custkey IS NOT NULL AND (b.c_acctbal IS DISTINCT FROM d.c_acctbal
                       OR b.c_mktsegment IS DISTINCT FROM d.c_mktsegment) THEN 'UPDATED'
                     ELSE 'NOTHING_CHANGED' END AS _status
              FROM b FULL OUTER JOIN d ON b.c_custkey = d.c_custkey"""
        if k == "increment":
            return (f"SELECT c_custkey, round(CASE WHEN c_acctbal < {r['below']} THEN c_acctbal + "
                    f"{r['delta']} ELSE c_acctbal END, 2) AS bal, c_acctbal < {r['below']} AS _applied "
                    f"FROM customer WHERE c_custkey BETWEEN {r['lo']} AND {r['hi']}")
        if k == "nested":
            hit = f"CASE WHEN l_quantity >= {r['qty']} THEN 1 ELSE 0 END"
            having = {"any": f"sum({hit}) > 0", "all": f"sum({hit}) = count(*)",
                      "none": f"sum({hit}) = 0", "count": f"sum({hit}) >= {r['n']}"}[r["quant"]]
            return (f"SELECT l_orderkey FROM lineitem WHERE l_orderkey BETWEEN {r['lo']} AND "
                    f"{r['lo'] + r['span'] - 1} GROUP BY l_orderkey HAVING {having}")
        if k == "geo":
            dist = _geo_sql_dist(r["lat"], r["lon"])
            return (f"SELECT c_custkey, round({dist}, 3) AS dist_km FROM {GEO_LATLON} "
                    f"WHERE NOT (lat = 0.0 AND lon = 0.0) AND {dist} <= {r['km']}")
        if k == "vector_topk":
            dot = "list_dot_product(e.embedding::DOUBLE[], q.qv::DOUBLE[])"
            return (f"WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = {r['vec_id']}) "
                    f"SELECT vec_id, round({dot}, 6) AS score FROM embeddings e, q "
                    f"ORDER BY {dot} DESC, vec_id ASC LIMIT {r['k']}")
        raise ValueError(k)

    def prepare(self, work, seed):
        data = f"{work}/data"
        gen.generate(data, self.SF, seed)
        n = gen.rows(self.SF)
        emb = pq.read_table(f"{data}/embeddings.parquet").column("embedding").to_pylist()
        rng = random.Random(seed)
        con = connect(data)
        requests, oracle = [], {}
        for kind in self.KINDS:
            for i in range(self.POOL_PER_KIND):
                # redraw until the answer fits one page: the client collects
                # every row, so a request must never return more than a page
                while True:
                    r = dict(self.draw(kind, rng, n, emb), kind=kind, id=f"{kind}#{i}")
                    cur = con.execute(self.sql(r))
                    rows = cur.fetchall()
                    if len(rows) <= PAGE:
                        break
                oracle[r["id"]] = canon([d[0] for d in cur.description], rows)
                requests.append(r)
        self.oracle = oracle
        # rounds of every kind once, in a seeded order, each a seeded pick
        # from the kind's pool: any run length sees nearly the same mix
        sequence = []
        while len(sequence) < self.SEQUENCE:
            for kind in rng.sample(self.KINDS, len(self.KINDS)):
                sequence.append(f"{kind}#{rng.randrange(self.POOL_PER_KIND)}")
        return {"dir": data, "requests": requests, "sequence": sequence,
                "round": len(self.KINDS)}

    def check(self, rec):
        bad, msgs = set(), []
        for rid, res in rec["results"].items():
            got = canon(res["cols"], res["rows"])
            if got != self.oracle[rid] or not res["stable"]:
                bad.add(rid)
                msgs.append(f"{rid}: {'unstable' if not res['stable'] else 'differs from DuckDB'}")
        # operation ids are "r<round>/<request id>"
        failed = {o["id"] for o in rec["ops"] if o["id"].split("/")[1] in bad}
        return {"failed_ids": failed, "failed_extra": 0, "attempted_extra": 0, "messages": msgs}

    def named(self, rec, ops):
        ms = [o["ms"] for o in ops]
        return {"request_p50_ms": timing(ms), "request_p95_ms": timing(ms, q=95),
                "requests_per_s": {"value": len(ms) / (sum(ms) / 1000.0), "unit": "1/s",
                                   "n": len(ms)}}


# --------------------------------------------------------------------------
# pipeline_cold
# --------------------------------------------------------------------------

class PipelineCold:
    """The heavy LLM-data ops, cold, on a 5x-row nproc-split fixture that
    graft.FixtureGen derives in set-up from a seeded base."""

    BASE_SF = 0.002
    COPIES = 5
    PASSES = 40
    OPS = ["q_canonical_priority", "q_containment", "q_bm25_batch", "q_bpe_encode",
           "q_curation"]

    def timed(self, ops):
        """One operation per complete pass: the pass is what a pipeline
        user waits for, and the ops' own times swing with the seeded data
        more than their sum does."""
        return totals(cycles(ops, len(self.OPS)))

    def prepare(self, work, seed):
        base = f"{work}/base"
        # the ops read only the corpus tables; the relational ones stay tiny
        gen.generate(base, self.BASE_SF, seed, relational_sf=0.0005)
        rng = random.Random(seed)
        return {"base": base, "copies": self.COPIES,
                "passes": [rng.sample(self.OPS, len(self.OPS)) for _ in range(self.PASSES)]}

    def check(self, rec):
        # the oracle reads the fixture FixtureGen wrote in set-up
        con = connect(rec["fixture"])
        oracle, bad, msgs = {}, set(), []
        for q in self.OPS:
            cur = con.execute(rec["oracle_sql"][q])
            oracle[q] = canon([d[0] for d in cur.description], cur.fetchall())
        for o in rec["ops"]:
            if o["error"]:
                continue
            try:
                cur = con.execute(f"SELECT * FROM '{rec['out']}/{o['id']}/*.parquet'")
                got = canon([d[0] for d in cur.description], cur.fetchall())
            except duckdb.Error as e:
                got = str(e)
            if got != oracle[o["kind"]]:
                bad.add(o["id"])
                msgs.append(f"{o['id']}: output differs from DuckDB")
        return {"failed_ids": bad, "failed_extra": 0, "attempted_extra": 0, "messages": msgs}

    def named(self, rec, ops):
        return {"pass_s": timing([c["ms"] / 1000.0 for c in self.timed(ops)], unit="s")}


# --------------------------------------------------------------------------
# maintain
# --------------------------------------------------------------------------

class Maintain:
    """sf0.1 documents and embeddings split by seeded key hash into a base
    and batches; appends through the exactly-once APIs and read-after-append
    probes in the timed loop, then one untimed maintenance round: a replay of
    the last committed batch, a compaction and a vacuum."""
    SF = 0.1
    BATCHES = 80

    @staticmethod
    def timed(ops):
        """One operation per complete batch: its three appends and three
        probes. Their own times differ up to sixfold by kind, so the median
        of a few batches' operations falls between the fast and the slow
        kinds and jumps; the median batch total does not. The maintenance
        round (replay, compaction, vacuum) runs after the clock stops and is
        reported on its own."""
        return totals(cycles([o for o in ops if o["kind"].startswith(("append_", "probe_"))], 6))

    def prepare(self, work, seed):
        src = f"{work}/src"
        # only the corpus tables are read; the relational ones stay tiny
        gen.generate(src, self.SF, seed, relational_sf=0.0005)
        data = f"{work}/data"
        os.makedirs(data)
        rng = np.random.default_rng(seed + 1)
        splits = {}
        for table, prefix in [("documents", "docs"), ("embeddings", "vecs")]:
            t = pq.read_table(f"{src}/{table}.parquet")
            # half the keys form the base; the rest fall into batches
            part = np.where(rng.random(t.num_rows) < 0.5, -1, rng.integers(0, self.BATCHES, t.num_rows))
            for b in range(-1, self.BATCHES):
                name = "base" if b < 0 else f"b{b}"
                sel = t.filter(part == b)
                pq.write_table(sel, f"{data}/{prefix}_{name}.parquet")
                splits[f"{prefix}_{name}"] = sel
        emb = splits["vecs_base"].column("embedding").to_pylist()
        pyrng = random.Random(seed)
        batches = [{"id": b, "terms": pyrng.sample(gen.VOCAB, 2),
                    "query": [float(x) for x in pyrng.choice(emb)],
                    "incoming": f"docs_b{(b + 1) % self.BATCHES}"} for b in range(self.BATCHES)]
        self.splits = splits
        return {"dir": data, "batches": batches}

    def check(self, rec):
        msgs = [f"{c['kind']} after batch {c['batch']}: differs from a from-scratch build"
                for c in rec["checks"] if not c["ok"]]
        return {"failed_ids": set(), "failed_extra": len(msgs),
                "attempted_extra": len(rec["checks"]), "messages": msgs}

    def named(self, rec, ops):
        app = [o["ms"] for o in ops if o["kind"].startswith("append_")]
        probe = [o["ms"] for o in ops if o["kind"].startswith("probe_")]
        names = ["base"] + [f"b{i}" for i in range(rec["batches_done"])]
        text = sum(len(s.encode()) for n in names
                   for s in self.splits[f"docs_{n}"].column("text").to_pylist())
        vec = sum(self.splits[f"vecs_{n}"].num_rows for n in names) * 4 * gen.DIM
        # the maintenance round is traced in a traced run, so take it from
        # every operation, not only the untraced ones
        maint = {f"{k}_ms": timing([o["ms"] for o in rec["ops"] if o["kind"] == k])
                 for k in ("replay", "compact", "vacuum")}
        return {"append_p50_ms": timing(app), "append_p90_ms": timing(app, q=90),
                "probe_p50_ms": timing(probe), **maint,
                "space_amp": {"value": rec["artifact_bytes"] / (text + vec), "unit": "ratio",
                              "n": rec["artifact_files"]}}


WORKLOADS = {"serve": Serve, "pipeline_cold": PipelineCold, "maintain": Maintain}

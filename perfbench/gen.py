"""Seeded inputs for the benchmark.

Three generators, each a pure function of its seed:

* ``write_tables``: the sf0.1-shaped star schema plus ``events``,
  ``documents`` and ``embeddings`` (the table set and value domains of the
  repository's sf test data), written as one parquet file per table.  The
  tables use a fixed data seed so the pack's golden hashes hold for every
  workload seed; the workload seed only orders the pack.
* ``ilp_batches``: ILP batches for ``ilp_ingest`` -- several measurements,
  skewed tag values, mixed field types, out-of-order rows that land in
  earlier day partitions, exact resends (duplicate (ts, sym) keys) and a
  few malformed lines.  It also returns what the table must hold after any
  prefix of the batches is acknowledged.
* ``serving_mix``: per-client statement lists for ``pg_serving``: half are
  verbatim repeats of a few dashboard panels, half are the same templates
  with fresh literals.

``python3 perfbench/gen.py --self-check`` shows that the same seed gives
byte-identical inputs and another seed gives different ones.
"""
import hashlib
import os
import random
import sys

DATA_SEED = 42
SF = 0.1

# ---------------------------------------------------------------- tables

_WORDS = ("a the data spark sort scan join merge hash key value row column "
          "table query filter group agg window stream batch line part order "
          "customer vector fast slow big small").split()
_LANGS = ["en", "es", "zh", "de", "fr"]
_LANG_P = [0.41, 0.15, 0.15, 0.14, 0.15]


def write_tables(out_dir, sf=SF, seed=DATA_SEED):
    """Write the ten tables under ``out_dir`` (one ``<name>.parquet`` each)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.Generator(np.random.PCG64(seed))
    os.makedirs(out_dir, exist_ok=True)

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    def days(lo, hi, n):  # naive timestamps at midnight, microseconds
        lo_d, hi_d = np.datetime64(lo, "D"), np.datetime64(hi, "D")
        d = lo_d + rng.integers(0, int((hi_d - lo_d).astype(int)) + 1, n)
        return d.astype("datetime64[us]")

    def pick(values, n, p=None):
        return [values[i] for i in rng.choice(len(values), n, p=p)]

    def save(name, cols):
        pq.write_table(pa.table(cols), os.path.join(out_dir, name + ".parquet"))

    n_cust, n_supp, n_part = int(150000 * sf), int(10000 * sf), int(200000 * sf)
    n_ord, n_li = int(1500000 * sf), int(6000000 * sf)
    n_ev, n_doc, n_emb = int(1000000 * sf), int(50000 * sf), int(20000 * sf)

    save("region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    save("nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": ["NATION_%d" % i for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    save("customer", {
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": ["Customer#%09d" % i for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": pick(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                              "MACHINERY"], n_cust)})
    save("supplier", {
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": ["Supplier#%09d" % i for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(-999.99, 9999.99, n_supp)})
    adj = ["large", "hot", "blue", "old", "cold", "red", "green", "small"]
    noun = ["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "nut"]
    save("part", {
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": [adj[a] + " " + noun[b] for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": ["Brand#%d" % b for b in rng.integers(1, 26, n_part)],
        "p_type": pick(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"],
                       n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2)})
    save("orders", {
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": pick(["F", "O", "P"], n_ord),
        "o_totalprice": money(1000.0, 500000.0, n_ord),
        "o_orderdate": days("1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": pick(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                 "5-LOW"], n_ord)})
    save("lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype("float64"),
        "l_extendedprice": money(900.0, 105000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": pick(["A", "N", "R"], n_li),
        "l_linestatus": pick(["F", "O"], n_li),
        "l_shipdate": days("1995-01-02", "2001-11-04", n_li)})
    ev_ts = np.sort(rng.integers(0, 30 * 86400 * 10**6, n_ev)) + \
        np.datetime64("2024-01-01", "us").astype(np.int64)
    save("events", {
        "event_id": pa.array(range(n_ev), pa.int64()),
        "ts": pa.array(ev_ts.astype("datetime64[us]")),
        "user_id": rng.integers(0, 1500, n_ev),
        "event_type": pick(["click", "error", "purchase", "signup", "view"], n_ev),
        "value": np.round(np.minimum(rng.exponential(60.0, n_ev), 560.21), 2),
        "props": ['{"k": %d}' % k for k in rng.integers(0, 100, n_ev)]})
    texts, n_dup = [], n_doc // 20
    dup_at = set(rng.choice(np.arange(n_doc // 4, n_doc), n_dup, replace=False).tolist())
    for i in range(n_doc):
        if i in dup_at:  # near-duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(pick(_WORDS, int(rng.integers(10, 90)))))
    save("documents", {
        "doc_id": pa.array(range(n_doc), pa.int64()),
        "text": texts,
        "lang": pick(_LANGS, n_doc, _LANG_P),
        "source": ["src%d" % s for s in rng.integers(0, 20, n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    emb = rng.normal(0.0, 0.125, (n_emb, 64)).astype("float32")
    save("embeddings", {
        "vec_id": pa.array(range(n_emb), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32())})


def tables_digest(data_dir):
    """sha256 over the parquet files, so a run can tell it reads the same data."""
    h = hashlib.sha256()
    for name in sorted(os.listdir(data_dir)):
        if name.endswith(".parquet"):
            with open(os.path.join(data_dir, name), "rb") as f:
                h.update(name.encode() + b"\0" + f.read())
    return h.hexdigest()


# ------------------------------------------------------------------- ILP

ILP_DEDUP_KEYS = ["sym"]
ILP_MEASUREMENTS = ["quotes", "sensors", "trades"]
# the column whose sum the ingest check compares, per measurement
ILP_SUM_COLUMN = {"trades": "qty", "quotes": "bid_size", "sensors": "reading"}
_ILP_BASE_US = 1709251200 * 10**6          # 2024-03-01T00:00:00Z
_ILP_WINDOW_US = 2 * 3600 * 10**6          # event time one batch covers
# one measurement per batch, in this rotation (a batch touching several
# tables pays the whole apply once per table)
_ILP_ROTATION = ["trades", "quotes", "trades", "sensors", "trades", "quotes"]
_MALFORMED = ["trades,sym={s} price=abc,qty=1i {ts}",
              "trades,sym={s},side=b qty=12xi {ts}",
              "quotes,sym={s} bid=1.5 12ab",
              "sensors,sym={s},zone=z1 {ts}",
              "quotes,sym={s}"]


def ilp_batches(seed, n_batches=240, lines_per_batch=400):
    """Return (batches, expect).

    ``batches`` is a list of lists of ILP lines.  ``expect(acked)`` gives,
    for the acknowledged batch indices, each measurement's number of
    distinct (ts, sym) keys among well-formed lines and the sum of its
    check column, plus the line, well-formed line and byte counts posted.
    """
    r = random.Random("ilp-%d" % seed)
    n_sym = 40
    sym_w = [1.0 / (i + 1) ** 1.2 for i in range(n_sym)]
    syms = ["S%02d" % i for i in range(n_sym)]
    used = set()        # (measurement, ts_us, sym) already generated
    recent = {m: [] for m in ILP_MEASUREMENTS}   # lines that may be resent
    batches, stats = [], []
    for b in range(n_batches):
        lines, fresh, bad = [], [], 0   # fresh: (measurement, check value)
        lo = _ILP_BASE_US + b * _ILP_WINDOW_US
        m = _ILP_ROTATION[b % len(_ILP_ROTATION)]
        for _ in range(lines_per_batch):
            u = r.random()
            sym = r.choices(syms, sym_w)[0]
            if u < 0.005:
                ts = (lo + r.randrange(_ILP_WINDOW_US)) * 1000
                lines.append(r.choice(_MALFORMED).format(s=sym, ts=ts))
                bad += 1
                continue
            if u < 0.035 and recent[m]:
                lines.append(r.choice(recent[m]))   # exact resend: same key, same values
                continue
            while True:
                if b > 0 and r.random() < 0.04:   # out of order: an earlier day
                    ts_us = _ILP_BASE_US + r.randrange(b * _ILP_WINDOW_US)
                else:
                    ts_us = lo + r.randrange(_ILP_WINDOW_US)
                if (m, ts_us, sym) not in used:
                    used.add((m, ts_us, sym))
                    break
            ts = ts_us * 1000 + r.randrange(1000)
            if m == "trades":
                v = r.randrange(1, 500)
                line = "trades,sym=%s,side=%s price=%.2f,qty=%di,venue=\"%s\",aggressor=%s %d" % (
                    sym, r.choice("bs"), r.uniform(10, 500), v, r.choice(["XNAS", "XNYS", "BATS"]),
                    r.choice("tf"), ts)
            elif m == "quotes":
                v = r.randrange(1, 10000)
                bid = r.uniform(10, 500)
                line = "quotes,sym=%s bid=%.4f,ask=%.4f,bid_size=%di %d" % (
                    sym, bid, bid + r.uniform(0.01, 0.5), v, ts)
            else:
                v = r.randrange(0, 1000)
                line = "sensors,sym=%s,zone=z%d reading=%di,temp=%.3f,ok=%s,status=\"%s\" %d" % (
                    sym, r.randrange(4), v, r.gauss(21.0, 3.0), r.choice("tf"),
                    r.choice(["nominal", "warn", "fault"]), ts)
            lines.append(line)
            fresh.append((m, v))
            recent[m].append(line)
            if len(recent[m]) > 2000:
                recent[m].pop(0)
        batches.append(lines)
        stats.append((fresh, len(lines), sum(len(x) + 1 for x in lines), bad))

    def expect(acked):
        chosen = [stats[i] for i in sorted(set(acked))]
        rows = {m: 0 for m in ILP_MEASUREMENTS}
        sums = {m: 0 for m in ILP_MEASUREMENTS}
        for fresh, _, _, _ in chosen:
            for m, v in fresh:
                rows[m] += 1
                sums[m] += v
        return {"rows": rows, "sums": sums,
                "lines": sum(s[1] for s in chosen),
                "wellformed": sum(s[1] - s[3] for s in chosen),
                "bytes": sum(s[2] for s in chosen)}

    return batches, expect


# ------------------------------------------------------------- statements

def _templates(r):
    """One statement per call of each template, literals drawn from ``r``."""
    et = lambda: r.choice(["click", "error", "purchase", "signup", "view"])
    day = lambda: "2024-01-%02d" % r.randrange(1, 31)
    return [
        lambda: ("SELECT user_id, ts, value FROM events WHERE event_type = '%s' "
                 "AND user_id < %d LATEST ON ts PARTITION BY user_id" % (et(), r.randrange(20, 200))),
        lambda: ("SELECT ts, count(*) AS n, sum(cast(value AS decimal(18,2))) AS v FROM events "
                 "WHERE event_type = '%s' AND ts IN '%s' SAMPLE BY %dh FILL(0)"
                 % (et(), day(), r.choice([1, 2, 3, 6]))),
        lambda: ("SELECT ts, count(*) AS n, max(value) AS mx FROM events WHERE user_id < %d "
                 "SAMPLE BY %dd FILL(NULL)" % (r.randrange(10, 300), r.choice([1, 2, 5]))),
        lambda: ("SELECT e.event_id, e.ts, e.value, c.value AS click_value FROM "
                 "(SELECT event_id, ts, user_id, value FROM events WHERE event_type = 'purchase' "
                 "AND user_id < %d) e ASOF JOIN "
                 "(SELECT user_id, ts, value FROM events WHERE event_type = 'click') c ON user_id"
                 % r.randrange(5, 40)),
        lambda: ("SELECT count(*) AS n, sum(cast(value AS decimal(18,2))) AS v, min(ts) AS lo, "
                 "max(ts) AS hi FROM events WHERE ts IN '%s;%dh'" % (day(), r.choice([2, 6, 12]))),
        lambda: ("SELECT o_orderstatus, o_orderpriority, count(*) AS n, "
                 "sum(cast(o_totalprice AS decimal(18,2))) AS total FROM orders "
                 "WHERE o_orderdate >= '%d-01-01' AND o_orderdate < '%d-01-01' "
                 "GROUP BY o_orderstatus, o_orderpriority" % ((y := r.randrange(1995, 2001)), y + 1)),
        lambda: ("SELECT l_returnflag, l_linestatus, count(*) AS n, sum(l_quantity) AS qty, "
                 "sum(cast(l_extendedprice AS decimal(18,2))) AS price FROM lineitem "
                 "WHERE l_shipdate >= '%s' AND l_shipdate < '%s' AND l_discount <= %.2f "
                 "GROUP BY l_returnflag, l_linestatus"
                 % ("%d-%02d-01" % (y := r.randrange(1995, 2001), m := r.randrange(1, 12)),
                    "%d-%02d-01" % (y, m + 1), r.randrange(1, 10) / 100.0)),
    ]


def serving_mix(seed, clients=3, per_client=3000):
    """Per-client statement lists.  Clients walk the templates round-robin
    (each from its own offset), so every seed runs the same template mix;
    even positions repeat that template's dashboard panel verbatim, odd
    positions use the template with fresh literals."""
    r = random.Random("mix-%d" % seed)
    gen = _templates(r)
    panels = [t() for t in gen]
    out = []
    for c in range(clients):
        stmts = []
        for i in range(per_client):
            t = (i // 2 + 3 * c) % len(gen)
            stmts.append(panels[t] if i % 2 == 0 else gen[t]())
        out.append(stmts)
    return out


def self_check():
    """Same seed -> byte-identical inputs; another seed -> different inputs."""
    def ilp_bytes(s):
        return "\n".join("\n".join(b) for b in ilp_batches(s, n_batches=20)[0]).encode()

    def mix_bytes(s):
        return "\n".join("\n".join(c) for c in serving_mix(s, per_client=200)).encode()

    ok = True
    for name, fn in [("ilp", ilp_bytes), ("mix", mix_bytes)]:
        a, b, c = fn(7), fn(7), fn(8)
        same, differ = a == b, a != c
        print("%s: same seed identical=%s, other seed differs=%s (%d bytes)"
              % (name, same, differ, len(a)))
        ok = ok and same and differ
    return ok


if __name__ == "__main__":
    if sys.argv[1:] == ["--self-check"]:
        sys.exit(0 if self_check() else 1)
    print("usage: gen.py --self-check", file=sys.stderr)
    sys.exit(2)

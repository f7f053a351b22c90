"""Seeded input generator for the benchmark workloads.

    python3 perfbench/gen.py --workload lookup|sync|corpus-prep --seed N --out DIR

Writes the tables the program reads (the fixture star schema's
`region nation customer orders`, or the `documents` corpus, one parquet
file each), the workload's own inputs (the verb stream or the mail jobs
table) and `manifest.json` describing them. The same seed gives byte-identical files (`test_gen.py`
pins this): numpy's PCG64 stream is platform-independent and pyarrow's
parquet writer stamps no time or host into the file.

Table shape follows the fixture the engine's Drupal member view derives
from (`graft.queries.DrupalFixture`): dense customer and order keys from
0, 25 nations over 5 regions, order dates 1995-01-01..2001-08-01, names
`Customer#NNNNNNNNN`, and the member email synthesised from the name.
The corpus follows the fixture's `documents` table: `doc_id text lang
source n_chars`, whitespace-separated ASCII words with stopwords mixed in.
"""
import argparse
import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CUSTOMERS = 1500
ORDERS_PER_CUSTOMER = 10
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
# segments the member view keeps (DrupalFixture's personal status
# 947/951/1099); it also drops partner records, c_custkey % 17 == 0
MEMBER_SEGMENTS = ("AUTOMOBILE", "BUILDING", "MACHINERY")
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
STATUSES = ["F", "O", "P"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
FIRST_DAY = dt.date(1995, 1, 1)
LAST_DAY = dt.date(2001, 8, 1)
EPOCH = dt.date(1970, 1, 1)

# lookup: one cycle issues every verb once, in a seeded order
LOOKUP_CYCLES = 64
VERBS = ["members-by-club", "members-by-region", "members-by-uid",
         "members-by-email", "users-by-email", "leadership-for-club",
         "leadership-for-region"]

# sync: snapshot 0 is the initial load, each later one churns the last
SNAPSHOTS = 2
DROP_RATE = 0.03   # customers removed, with their orders
EDIT_RATE = 0.05   # customers whose segment, name or order dates change
ADD_RATE = 0.03    # new customers, each with a fresh set of orders
# the sync-mail jobs table: one all-members job plus club and region jobs
MAIL_JOBS = [("all", None, None), ("club-7", 7, None), ("region-2", None, 2)]


# corpus-prep: the documents table, with exact duplicates, near
# duplicates (a copy with a few words replaced) and PII planted at
# these rates
CORPUS_DOCS = 400
EXACT_DUP_RATE = 0.05
NEAR_DUP_RATE = 0.08
PII_RATE = 0.15
NEAR_DUP_EDITS = 3
LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]
SYLLABLES = ["ka", "lo", "mi", "ne", "ru", "ta", "vo", "si", "de", "pa", "zu", "be"]
WORDS = ["agg", "batch", "big", "column", "customer", "data", "fast", "filter",
         "group", "hash", "join", "key", "line", "merge", "order", "part", "query",
         "row", "scan", "slow", "small", "sort", "spark", "stream", "table", "value",
         "vector", "window"] + [a + b + c for a in SYLLABLES for b in SYLLABLES
                                for c in ("", "n", "r")]
STOPWORDS = ["the", "a", "of", "and", "to", "in"]


def email_of(custkey, name):
    """Mirror of graft.functions.F.synthEmail."""
    dom = "@example.com" if custkey % 10 == 0 else "@acme.org"
    return name.lower().replace("#", ".") + dom


def cust_name(custkey):
    return "Customer#%09d" % custkey


class World:
    """One snapshot of the member source: customers and their orders."""

    def __init__(self, rng):
        self.rng = rng
        self.days = (LAST_DAY - FIRST_DAY).days
        self.cust = {}   # custkey -> [name, nationkey, acctbal, segment]
        self.orders = {}  # orderkey -> [custkey, status, price, day, priority]
        self.next_cust = 0
        self.next_order = 0
        for _ in range(CUSTOMERS):
            self.add_customer()

    def add_customer(self):
        k = self.next_cust
        self.next_cust += 1
        r = self.rng
        self.cust[k] = [cust_name(k), int(r.integers(0, 25)),
                        round(float(r.uniform(-999.99, 9999.99)), 2),
                        SEGMENTS[int(r.integers(0, 5))]]
        # distinct dates per customer keep leadership keys unique
        days = r.choice(self.days, size=ORDERS_PER_CUSTOMER, replace=False)
        for d in sorted(int(x) for x in days):
            self.orders[self.next_order] = [
                k, STATUSES[int(r.integers(0, 3))],
                round(float(r.uniform(900.0, 500000.0)), 2), d,
                PRIORITIES[int(r.integers(0, 5))]]
            self.next_order += 1
        return k

    def churn(self):
        """Drop, edit and add customers; returns the counts applied."""
        r = self.rng
        keys = sorted(self.cust)
        n_drop = int(round(len(keys) * DROP_RATE))
        n_edit = int(round(len(keys) * EDIT_RATE))
        picked = r.choice(len(keys), size=n_drop + n_edit, replace=False)
        dropped = {keys[i] for i in picked[:n_drop]}
        edited = [keys[i] for i in picked[n_drop:]]
        for k in dropped:
            del self.cust[k]
        self.orders = {o: v for o, v in self.orders.items() if v[0] not in dropped}
        own = {}
        for o, v in self.orders.items():
            own.setdefault(v[0], []).append(o)
        for k in edited:
            kind = int(r.integers(0, 3))
            if kind == 0:    # segment change moves the member status filter
                self.cust[k][3] = SEGMENTS[int(r.integers(0, 5))]
            elif kind == 1:  # renamed: a new email and audience id
                self.cust[k][0] = cust_name(k) + "x"
            else:            # re-dated memberships move the active window
                mine = sorted(own.get(k, []))
                days = r.choice(self.days, size=len(mine), replace=False)
                for o, d in zip(mine, sorted(int(x) for x in days)):
                    self.orders[o][3] = d
        n_add = int(round(len(keys) * ADD_RATE))
        for _ in range(n_add):
            self.add_customer()
        return {"dropped": n_drop, "edited": n_edit, "added": n_add}

    def write(self, out):
        os.makedirs(out, exist_ok=True)
        write_table(out, "region", [
            ("r_regionkey", pa.int32(), list(range(5))),
            ("r_name", pa.string(), REGIONS)])
        write_table(out, "nation", [
            ("n_nationkey", pa.int32(), list(range(25))),
            ("n_name", pa.string(), ["NATION_%d" % k for k in range(25)]),
            ("n_regionkey", pa.int32(), [k % 5 for k in range(25)])])
        ck = sorted(self.cust)
        write_table(out, "customer", [
            ("c_custkey", pa.int64(), ck),
            ("c_name", pa.string(), [self.cust[k][0] for k in ck]),
            ("c_nationkey", pa.int32(), [self.cust[k][1] for k in ck]),
            ("c_acctbal", pa.float64(), [self.cust[k][2] for k in ck]),
            ("c_mktsegment", pa.string(), [self.cust[k][3] for k in ck])])
        ok = sorted(self.orders)
        day0 = (FIRST_DAY - EPOCH).days
        write_table(out, "orders", [
            ("o_orderkey", pa.int64(), ok),
            ("o_custkey", pa.int64(), [self.orders[o][0] for o in ok]),
            ("o_orderstatus", pa.string(), [self.orders[o][1] for o in ok]),
            ("o_totalprice", pa.float64(), [self.orders[o][2] for o in ok]),
            ("o_orderdate", pa.timestamp("us"),
             [(day0 + self.orders[o][3]) * 86_400_000_000 for o in ok]),
            ("o_orderpriority", pa.string(), [self.orders[o][4] for o in ok])])

    def member_like(self):
        """Customers the member view can list. Looking members up by uid
        or email among these finds nearly every target; a miss returns
        sooner than a hit, so drawing from all customers would let the
        seed's hit count move the latency."""
        return [k for k, v in sorted(self.cust.items())
                if v[3] in MEMBER_SEGMENTS and k % 17 != 0]


def write_table(out, name, cols):
    schema = pa.schema([(n, t) for n, t, _ in cols])
    table = pa.Table.from_arrays([pa.array(v, type=t) for _, t, v in cols],
                                 schema=schema)
    pq.write_table(table, os.path.join(out, name + ".parquet"),
                   compression="snappy")


def gen_lookup(rng, out):
    world = World(rng)
    world.write(os.path.join(out, "tables"))
    members = world.member_like()
    custs = sorted(world.cust)
    lines = []
    for c in range(LOOKUP_CYCLES):
        # the first call of a run pays the fixture-cache fill; opening with
        # by-club puts that fill on the same verb in every run
        order = [VERBS[int(v)] for v in rng.permutation(len(VERBS))]
        if c == 0:
            order.remove("members-by-club")
            order.insert(0, "members-by-club")
        for verb in order:
            as_of = (FIRST_DAY + dt.timedelta(days=int(rng.integers(
                365, world.days)))).isoformat()
            if verb == "members-by-club":
                args = ["members", "by-club", str(int(rng.integers(0, 25)))]
            elif verb == "members-by-region":
                args = ["members", "by-region", str(int(rng.integers(0, 5)))]
            elif verb == "members-by-uid":
                args = ["members", "by-uid", str(members[int(rng.integers(0, len(members)))])]
            elif verb == "members-by-email":
                k = members[int(rng.integers(0, len(members)))]
                args = ["members", "by-email", email_of(k, world.cust[k][0])]
            elif verb == "users-by-email":
                k = custs[int(rng.integers(0, len(custs)))]
                args = ["users", "by-email", email_of(k, world.cust[k][0])]
            elif verb == "leadership-for-club":
                args = ["leadership", "for-club", str(int(rng.integers(0, 25))),
                        "--as-of", as_of]
            else:
                args = ["leadership", "for-region", str(int(rng.integers(0, 5))),
                        "--as-of", as_of]
            lines.append("\t".join([verb] + args))
    with open(os.path.join(out, "verbs.tsv"), "w") as f:
        f.write("\n".join(lines) + "\n")
    return {"customers": len(world.cust), "orders": len(world.orders),
            "verbs": len(lines), "cycle": VERBS}


def gen_sync(rng, out):
    world = World(rng)
    churn = []
    for k in range(SNAPSHOTS):
        if k:
            churn.append(world.churn())
        world.write(os.path.join(out, "snap-%03d" % k))
    with open(os.path.join(out, "jobs.tsv"), "w") as f:
        for name, club, region in MAIL_JOBS:
            f.write("%s\t%s\t%s\n" % (name, "" if club is None else club,
                                      "" if region is None else region))
    return {"snapshots": SNAPSHOTS, "customers_initial": CUSTOMERS,
            "orders_per_customer": ORDERS_PER_CUSTOMER, "churn": churn,
            "rates": {"drop": DROP_RATE, "edit": EDIT_RATE, "add": ADD_RATE},
            "jobs": [j[0] for j in MAIL_JOBS]}


def pii(rng):
    """One planted email, phone number or long id run (the three kinds
    `TextOps.scrubPii` redacts)."""
    kind = int(rng.integers(0, 3))
    if kind == 0:
        return "user%d@mail%d.example.org" % (int(rng.integers(0, 10**6)),
                                              int(rng.integers(0, 100)))
    if kind == 1:
        return "%03d-%03d-%04d" % (int(rng.integers(200, 1000)),
                                   int(rng.integers(0, 1000)), int(rng.integers(0, 10**4)))
    return str(int(rng.integers(10**9, 10**12)))


def gen_corpus(rng, out):
    """Planted counts are exact (rate x docs), and fresh docs take their
    lengths (15..99 words) and languages from fixed multisets in seeded
    order, so seeds differ in which docs are what, not in how many."""
    n_exact = int(round(CORPUS_DOCS * EXACT_DUP_RATE))
    n_near = int(round(CORPUS_DOCS * NEAR_DUP_RATE))
    n_fresh = CORPUS_DOCS - n_exact - n_near
    # doc 0 is fresh, so every copy has an original before it
    kinds = ["fresh"] + [str(k) for k in rng.permutation(
        ["fresh"] * (n_fresh - 1) + ["exact_dup"] * n_exact + ["near_dup"] * n_near)]
    lengths = [int(k) for k in rng.permutation([15 + i * 85 // n_fresh for i in range(n_fresh)])]
    fresh_langs = [str(k) for k in rng.permutation(
        [LANGS[i % len(LANGS)] for i in range(n_fresh)])]
    with_pii = set(int(k) for k in rng.choice(CORPUS_DOCS, size=int(round(
        CORPUS_DOCS * PII_RATE)), replace=False))
    texts, langs, fresh = [], [], []
    for i, kind in enumerate(kinds):
        # copies are made of fresh docs only, so every duplicate cluster is
        # a star around its original
        if kind == "fresh":
            n = lengths[len(fresh)]
            stop = rng.random(n) < 0.25
            words = [STOPWORDS[int(rng.integers(0, len(STOPWORDS)))] if s
                     else WORDS[int(rng.integers(0, len(WORDS)))] for s in stop]
            lang = fresh_langs[len(fresh)]
            fresh.append(i)
        else:
            j = fresh[int(rng.integers(0, len(fresh)))]
            words, lang = texts[j].split(" "), langs[j]
            if kind == "near_dup":
                for p in rng.choice(len(words), size=NEAR_DUP_EDITS, replace=False):
                    words[int(p)] = WORDS[int(rng.integers(0, len(WORDS)))]
        if i in with_pii:
            words.insert(int(rng.integers(0, len(words) + 1)), pii(rng))
        texts.append(" ".join(words))
        langs.append(lang)
    tables = os.path.join(out, "tables")
    os.makedirs(tables, exist_ok=True)
    write_table(tables, "documents", [
        ("doc_id", pa.int64(), list(range(CORPUS_DOCS))),
        ("text", pa.string(), texts),
        ("lang", pa.string(), langs),
        ("source", pa.string(), ["src%d" % (i % 20) for i in range(CORPUS_DOCS)]),
        ("n_chars", pa.int64(), [len(t) for t in texts])])
    return {"docs": CORPUS_DOCS,
            "planted": {"exact_dup": n_exact, "near_dup": n_near, "pii": len(with_pii)},
            "rates": {"exact_dup": EXACT_DUP_RATE, "near_dup": NEAR_DUP_RATE,
                      "pii": PII_RATE}}


GENERATORS = {"lookup": gen_lookup, "sync": gen_sync, "corpus-prep": gen_corpus}


def generate(workload, seed, out):
    os.makedirs(out, exist_ok=True)
    rng = np.random.Generator(np.random.PCG64(seed))
    props = GENERATORS[workload](rng, out)
    manifest = {"workload": workload, "seed": seed, **props}
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    print(json.dumps(generate(a.workload, a.seed, a.out), sort_keys=True))


if __name__ == "__main__":
    main()

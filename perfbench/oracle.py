"""Output checks: every result the program produced in a run is compared
with DuckDB over the same parquet files. The SQL is the catalog's own
oracle SQL (`graft.SparkEntry.oracleSql`, exported by the harness) with
the verb's parameter bound, or the equivalent SQL for verbs the catalog
has no entry for; values are compared as `tools/local_verify.py` does.
"""
import datetime as dt
import hashlib
import json
import math

import duckdb

TABLES = ["region", "nation", "customer", "orders"]

USERS_SQL = (
    "SELECT c_custkey AS uid, replace(lower(c_name), '#', '.') || CASE WHEN "
    "c_custkey % 10 = 0 THEN '@example.com' ELSE '@acme.org' END AS email, "
    "substr(c_name, 1, 8) AS first_name, substr(c_name, 10, 18) AS last_name, "
    "c_custkey % 13 <> 0 AS active, "
    "CAST(to_timestamp(915148800 + c_custkey * 3600) AS DATE) AS last_login FROM customer")

ROLES = ("(VALUES (0, 'President'), (1, 'Vice President'), (2, 'Secretary'), "
         "(3, 'Treasurer'), (4, 'Trustee'), (5, 'Membership Chair'), "
         "(6, 'Newsletter Editor'), (7, 'Webmaster')) t(role_uid, role_title)")


def leadership_sql(kind, entity, as_of):
    """graft.queries.Leadership.base: kind 0 clubs (entity = key % 25),
    kind 1 regions (entity = key % 5)."""
    mod = 25 if kind == 0 else 5
    return (
        "WITH lead AS (SELECT o_custkey AS uid, CAST(o_orderkey %% %d AS BIGINT) AS entity_uid, "
        "CAST(o_orderkey %% 8 AS BIGINT) AS role_uid, CAST(o_orderdate AS DATE) AS start_date, "
        "CASE WHEN o_orderkey %% 3 = 0 THEN NULL ELSE CAST(o_orderdate AS DATE) + 730 END "
        "AS end_date FROM orders WHERE o_orderkey %% 13 = 0 AND o_orderkey %% 4 = %d), "
        "r AS (SELECT CAST(role_uid AS BIGINT) AS role_uid, role_title FROM %s), "
        "u AS (%s) "
        "SELECT entity_uid, role_uid, role_title, start_date, end_date, uid, email, "
        "first_name, last_name FROM lead JOIN r USING (role_uid) JOIN u USING (uid) "
        "WHERE entity_uid = %d AND start_date <= DATE '%s' "
        "AND (end_date IS NULL OR end_date >= DATE '%s')"
        % (mod, kind, ROLES, USERS_SQL, entity, as_of, as_of))


def bind_once(sql, old, new):
    if sql.count(old) != 1:
        raise ValueError("oracle SQL no longer has exactly one %r" % old)
    return sql.replace(old, new)


def quote(s):
    return "'" + s.replace("'", "''") + "'"


def lookup_sql(args, oracle):
    """DuckDB SQL for one CLI invocation (the `Cli.resolve` verbs the
    lookup workload issues)."""
    head = tuple(args[:2])
    if head == ("members", "by-club"):
        return bind_once(oracle["mbr1_members_by_club"],
                         "SELECT CAST(7 AS BIGINT) AS club_nid",
                         "SELECT CAST(%d AS BIGINT) AS club_nid" % int(args[2]))
    if head == ("members", "by-region"):
        return bind_once(oracle["mbr2_members_by_region"],
                         "= CAST(2 AS BIGINT)", "= CAST(%d AS BIGINT)" % int(args[2]))
    if head == ("members", "by-uid"):
        return "SELECT * FROM (%s) WHERE uid = %d" % (oracle["mbr3_members_all"], int(args[2]))
    if head == ("members", "by-email"):
        return "SELECT * FROM (%s) WHERE email = %s" % (oracle["mbr3_members_all"], quote(args[2]))
    if head == ("users", "by-email"):
        return "SELECT * FROM (%s) WHERE email = %s" % (USERS_SQL, quote(args[2]))
    if head == ("leadership", "for-club") and args[3] == "--as-of":
        return leadership_sql(0, int(args[2]), args[4])
    if head == ("leadership", "for-region") and args[3] == "--as-of":
        return leadership_sql(1, int(args[2]), args[4])
    raise ValueError("no oracle for %s" % " ".join(args))


def connect(table_dir, tables=TABLES):
    con = duckdb.connect()
    try:
        con.sql("SET TimeZone = 'UTC'")
    except duckdb.Error:
        pass  # without ICU DuckDB has no time zones, and casts are UTC already
    for t in tables:
        con.sql("CREATE VIEW %s AS SELECT * FROM '%s/%s.parquet'" % (t, table_dir, t))
    return con


def query(con, sql):
    r = con.sql(sql)
    return r.columns, r.fetchall()


# --- value comparison -------------------------------------------------

def json_doc(cols, row):
    """A DuckDB row as the JSON document `JsonOut` prints: null fields
    skipped, dates as ISO strings."""
    d = {}
    for c, v in zip(cols, row):
        if v is None:
            continue
        d[c] = v.isoformat() if isinstance(v, (dt.date, dt.datetime)) else v
    return json.dumps(d, sort_keys=True)


def canon(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 9)
    if isinstance(v, list):
        return tuple(canon(x) for x in v)
    return v


def canon_rows(cols, rows):
    """Order-insensitive, column-order-insensitive form of a result."""
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(canon(r[i]) for i in idx) for r in rows]
    out.sort(key=lambda t: tuple((x is None, str(x)) for x in t))
    return [cols[i] for i in idx], out


def digest(items):
    h = hashlib.sha256()
    for x in sorted(items):
        h.update(x.encode() + b"\n")
    return h.hexdigest()


# --- workloads --------------------------------------------------------

def diff_lines(cols, rows, lines):
    """None if the printed JSON lines are the DuckDB rows, else why not:
    row count plus an order-insensitive hash of the documents."""
    want = [json_doc(cols, r) for r in rows]
    got = [json.dumps(json.loads(l), sort_keys=True) for l in lines]
    if len(got) != len(want) or digest(got) != digest(want):
        return "%d rows printed, oracle has %d, or their values differ" % (
            len(got), len(want))
    return None


def check_lookup(table_dir, oracle, results):
    """results: CLI invocation -> printed JSON lines. Returns
    invocation -> error for every invocation whose output is wrong."""
    con = connect(table_dir)
    bad = {}
    for key, lines in results.items():
        try:
            cols, rows = query(con, lookup_sql(key.split(" "), oracle))
        except Exception as e:  # an oracle that cannot run is a failed check
            bad[key] = "oracle error: %s" % e
            continue
        err = diff_lines(cols, rows, lines)
        if err:
            bad[key] = err
    return bad


# corpus-prep's receipt is the receipt of the fused dp3 entry over the
# same corpus, except that dp3 appends a PII suffix to every curated doc
# before the scrub.
DP3_PII_SUFFIX = ("c.text || ' contact user' || c.doc_id || '@mail.example.com or "
                  "555-123-4567 ref 9' || lpad(c.doc_id::VARCHAR, 9, '0') AS text")


def check_corpus(table_dir, oracle, receipt):
    """receipt: corpus-prep's per-pack receipt as JSON lines. Returns
    None if it is right, else why not."""
    con = connect(table_dir, ["documents"])
    try:
        cols, rows = query(con, bind_once(oracle["dp3_corpus_prep"], DP3_PII_SUFFIX,
                                          "c.text AS text"))
    except Exception as e:
        return "oracle error: %s" % e
    return diff_lines(cols, rows, receipt)


def valid_email(e):
    """graft.functions.F.isValidEmail."""
    e = (e or "").lower()
    return e != "" and not e.endswith("noemail.com") and not e.endswith("example.com")


def audience_ids(cols, rows):
    """Ids `MailSyncPipeline.memberAudienceRows` gives a job's members:
    primary and partner emails, valid ones only, one id per email."""
    ie, ip = cols.index("email"), cols.index("partner_email")
    emails = {r[i].lower() for r in rows for i in (ie, ip)
              if r[i] is not None and valid_email(r[i])}
    return {hashlib.md5(e.encode()).hexdigest() for e in emails}


def expected_snapshot(snap_dir, oracle, jobs):
    con = connect(snap_dir)
    t = {}
    t["regions"] = query(con, "SELECT CAST(r_regionkey AS BIGINT) AS uid, r_name AS name, "
                              "CAST(r_regionkey + 10 AS BIGINT) AS number FROM region")
    t["clubs"] = query(con, "SELECT CAST(n_nationkey AS BIGINT) AS uid, n_name AS name, "
                            "CAST(n_nationkey + 100 AS BIGINT) AS number, "
                            "CAST(n_regionkey AS BIGINT) AS region_uid FROM nation")
    t["members"] = query(con, oracle["mbr3_members_all"])
    t["leadership"] = query(con, oracle["ldr1_leadership_asof"])
    aud = {}
    for name, club, region in jobs:
        if club is not None:
            members = query(con, lookup_sql(["members", "by-club", str(club)], oracle))
        elif region is not None:
            members = query(con, lookup_sql(["members", "by-region", str(region)], oracle))
        else:
            members = t["members"]
        aud[name] = audience_ids(*members)
    return t, aud


KEYS = {"regions": ["uid"], "clubs": ["uid"], "members": ["uid"],
        "leadership": ["entity_uid", "role_uid", "uid", "start_date"]}


def keyset(cols, rows, keys):
    idx = [cols.index(k) for k in keys]
    return {tuple(r[i] for i in idx) for r in rows}


def check_sync(records, oracle, jobs):
    """records: one per synced snapshot, in order. Returns index -> error
    for every snapshot whose store tables, audiences or counts are wrong.

    Expected state after snapshot k: every store table holds exactly the
    snapshot's source rows (the leadership load keeps rows whose member is
    in the members table as loaded, i.e. before its GC, so members of
    snapshot k-1 still count); each audience holds the ids of its scope's
    members; upserted counts are the source rows, deleted counts the keys
    that left since snapshot k-1."""
    bad = {}
    prev = {}
    for i, rec in enumerate(records):
        errs = []
        exp, aud = expected_snapshot(rec["dir"], oracle, jobs)
        if rec["snapshot"] == 0:
            prev = {}
        mcols, mrows = exp["members"]
        uids = {r[mcols.index("uid")] for r in mrows} | prev.get("member_uids", set())
        lcols, lrows = exp["leadership"]
        exp["leadership"] = (lcols, [r for r in lrows if r[lcols.index("uid")] in uids])
        con = duckdb.connect()
        version = 2 * rec["snapshot"] + 2   # one load and one GC write per table
        keys_now = {}
        for table, (cols, rows) in exp.items():
            path = "%s/%s/v%d/*.parquet" % (rec["store"], table, version)
            try:
                scols, srows = query(con, "SELECT * FROM '%s'" % path)
            except Exception as e:
                errs.append("%s: store unreadable: %s" % (table, e))
                continue
            if canon_rows(scols, srows) != canon_rows(cols, rows):
                errs.append("%s: store holds %d rows, expected %d, or values differ"
                            % (table, len(srows), len(rows)))
            keys_now[table] = keyset(cols, rows, KEYS[table])
            got = rec["tables"][table]
            want = (len(rows), len(prev.get(table, set()) - keys_now[table]))
            if (got["upserted"], got["deleted"]) != want:
                errs.append("%s: upserted/deleted %s, expected %s"
                            % (table, (got["upserted"], got["deleted"]), want))
        for name, ids in aud.items():
            got = rec["audiences"][name]
            want = {"ids": len(ids), "ids_sha256": digest(ids), "upserted": len(ids),
                    "deleted": len(prev.get("aud:" + name, set()) - ids)}
            if got.get("error") or any(got[k] != v for k, v in want.items()):
                errs.append("audience %s: %s, expected %s" % (
                    name, {k: got.get(k) for k in want}, want))
            keys_now["aud:" + name] = ids
        keys_now["member_uids"] = {r[mcols.index("uid")] for r in mrows}
        prev = keys_now
        if errs:
            bad[i] = "; ".join(errs)
    return bad

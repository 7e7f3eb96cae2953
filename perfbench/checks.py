"""Output checks, made apart from the program and outside the timed window.

  - declared queries: DuckDB runs the query's own oracle SQL over the same
    generated files; both sides go through tools/oracle_check.py's
    normalization;
  - lakehouse_churn: the reference model in gen.py replays the seeded
    stream; every timed read and the final table must equal the model's;
  - properties where no oracle exists (pair sets, LSH, the cleaned corpus).

text_dedup's inputs do not change during a run, so the harness keeps the
first timed result of each operation type; every later execution must
have the same fingerprint, which the harness computes on the same
6-decimal normalization.

check() returns ({op seq: reason}, [errors no single operation owns]).
"""
import importlib.util
import json
import os
from decimal import Decimal

import duckdb

import gen


def _normalizer(repo):
    path = os.path.join(repo, "tools", "oracle_check.py")
    spec = importlib.util.spec_from_file_location("oracle_check", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.normalize


def _py(v, t):
    """A harness JSON cell as the Python value DuckDB would return;
    decimals travel as strings and compare as floats on both sides."""
    if v is not None and t.startswith("decimal"):
        return float(Decimal(v))
    return v


def load_kept(work, key):
    """The result the harness wrote for `key`, decoded."""
    with open(os.path.join(work, "kept", f"{key}.json")) as f:
        return decode(json.load(f))


def decode(kept):
    cols = [c[0] for c in kept["cols"]]
    types = [c[1] for c in kept["cols"]]
    rows = [tuple(_py(v, t) for v, t in zip(r, types)) for r in kept["rows"]]
    return cols, rows


def duck(con, sql):
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    rows = [tuple(float(v) if isinstance(v, Decimal) else v for v in r)
            for r in cur.fetchall()]
    return cols, rows


def compare(normalize, got, want):
    """None when equal under the oracle normalization, else a reason."""
    gc, gr = normalize(got[1], got[0])
    wc, wr = normalize(want[1], want[0])
    if gc != wc:
        return f"columns {gc} != oracle {wc}"
    if len(gr) != len(wr):
        return f"{len(gr)} rows != oracle {len(wr)}"
    for a, b in zip(gr, wr):
        if a != b:
            return f"row {a} != oracle {b}"
    return None


def _views(con, inputs, tables):
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{inputs}/{t}.parquet/*.parquet')")


def _by_type(res, bad, checked):
    """Spread each type's checked verdict to its executions, and fail an
    execution whose fingerprint differs from the checked one's."""
    first = {}
    for o in res["ops"]:
        if not o["ok"]:
            continue
        f = first.setdefault(o["name"], o)
        if o["name"] in checked and checked[o["name"]]:
            bad[o["seq"]] = checked[o["name"]]
        elif o["fp"] != f["fp"]:
            bad[o["seq"]] = f"result differs from round {f['round']}'s"


# ----------------------------------------------------------------- text_dedup

# the reason a pair operator fails when it pairs NULL-text documents
NULL_PAIRS = "pairs with a NULL text"

def shingles(text, k=5):
    t = text.split(" ")
    return {" ".join(t[i:i + k]) for i in range(max(len(t) - k, 0) + 1)}


def check_text(res, inputs, work, normalize, con):
    _views(con, inputs, ["documents"])
    docs = {r[0]: r[1:] for r in con.execute(
        "SELECT doc_id, text, n_chars FROM documents").fetchall()}
    null_ids = {i for i, (t, _) in docs.items() if t is None}
    with open(os.path.join(inputs, "planted.json")) as f:
        planted = json.load(f)["dup_groups"]
    sql = res["oracle_sql"]
    kept = {o["name"]: load_kept(work, o["name"]) for o in res["ops"]
            if o["ok"] and os.path.exists(
                os.path.join(work, "kept", f"{o['name']}.json"))}
    checked = {}

    def pair_props(name, must_cover):
        """The reasons `name`'s pairs are wrong. Pairs with a NULL-text
        member are one reason of their own; every other check runs on the
        pairs without one, so it can still fail beside it."""
        cols, rows = kept[name]
        a, b = cols.index("doc_a"), cols.index("doc_b")
        nulls = [r for r in rows if r[a] in null_ids or r[b] in null_ids]
        rows = [r for r in rows if r[a] not in null_ids
                and r[b] not in null_ids]
        why = []
        if nulls:
            why.append(f"{NULL_PAIRS}: {len(nulls)}, e.g. "
                       f"({nulls[0][a]}, {nulls[0][b]})")
        for r in rows:
            if r[a] >= r[b]:
                why.append(f"pair ({r[a]}, {r[b]}) is not ordered a < b")
                break
        if must_cover:
            got = {(r[a], r[b]) for r in rows}
            missing = [(i, j) for g in planted for i in sorted(g)
                       for j in sorted(g) if i < j and (i, j) not in got]
            if missing:
                why.append(f"{len(missing)} planted duplicate pairs not "
                           f"found, e.g. {missing[0]}")
        if name == "minhash_lsh":
            j = cols.index("jaccard")
            memo = {}
            for r in rows:
                key = (docs[r[a]][0], docs[r[b]][0])
                if key not in memo:
                    sa, sb = shingles(key[0]), shingles(key[1])
                    memo[key] = len(sa & sb) / len(sa | sb)
                if memo[key] < 0.9 or abs(memo[key] - r[j]) > 1e-9:
                    why.append(f"pair ({r[a]}, {r[b]}) reports jaccard "
                               f"{r[j]}, recomputed {memo[key]}")
                    break
        return "; ".join(why) or None

    for name, q in [("exact_dup_pairs", "q31_neardup"),
                    ("simhash_hamming", "q31_simhash_hamming"),
                    ("ngram_jaccard", "q31_ngram_jaccard"),
                    ("dup_clusters", "q31_dup_clusters")]:
        if name in kept:
            checked[name] = compare(normalize, kept[name], duck(con, sql[q]))
    for name, cover in [("exact_dup_pairs", True), ("simhash_hamming", False),
                        ("ngram_jaccard", False), ("minhash_lsh", True)]:
        if name in kept and not checked.get(name):
            checked[name] = pair_props(name, cover)

    # q74's oracle SQL partitions by signature, which puts every NULL-text
    # document into one cluster; the engine keeps each as a singleton
    # cluster (a NULL never matches). The oracle runs over the non-NULL
    # documents and the NULL ones are added as the singletons they are.
    if "survivorship" in kept or "audit_readback" in kept:
        nn = duckdb.connect()
        nn.execute("CREATE VIEW documents AS SELECT * FROM "
                   f"read_parquet('{inputs}/documents.parquet/*.parquet') "
                   "WHERE text IS NOT NULL")
        cols, rows = duck(nn, sql["q74_survivorship"])
        for i in sorted(null_ids):
            row = {"cluster": i, "keep_doc": i, "n_members": 1,
                   "max_chars": docs[i][1]}
            rows.append(tuple(row[c] for c in cols))
        for name in ("survivorship", "audit_readback"):
            if name in kept:
                checked[name] = compare(normalize, kept[name], (cols, rows))

    bad = {}
    _by_type(res, bad, checked)
    # the audit write is as good as the read-back that follows it
    readback = {o["round"]: o for o in res["ops"]
                if o["name"] == "audit_readback"}
    for o in res["ops"]:
        if o["name"] == "write_audit" and o["ok"]:
            rb = readback.get(o["round"])
            if rb is None or not rb["ok"] or rb["seq"] in bad:
                bad[o["seq"]] = "its read-back does not match"

    # the cleaned corpus: each pass keeps exactly one survivor per exact-
    # duplicate cluster (longest text, then lowest id) and every other doc
    groups = {}
    for i, (t, n) in docs.items():
        key = ("null", i) if t is None else " ".join(sorted(set(t.split(" "))))
        groups.setdefault(key, []).append((-n, i))
    expect = {min(g)[1] for g in groups.values()}
    passes = {}
    for p, i in con.execute(
            f"SELECT pass, doc_id FROM read_parquet('{work}/final/*.parquet')"
    ).fetchall():
        passes.setdefault(p, set()).add(i)
    for o in res["ops"]:
        if o["name"] == "append_cleaned" and o["ok"]:
            got = passes.get(o["round"], set())
            if got != expect:
                bad[o["seq"]] = (f"pass {o['round']} kept {len(got)} docs, "
                                 f"expected {len(expect)} survivors")
    return bad, []


# ----------------------------------------------------------- lakehouse_churn

POINT_COLS = ["k", "d", "cat", "v", "n"]
TOTAL_COLS = ["cat", "c", "sv", "sn"]


def check_lake(res, seed, size, work, normalize, con):
    base, stream = gen.lake_stream(seed, size, res["rounds"] + 1)
    model = gen.LakeModel(base)
    timed = {}
    for o in res["ops"]:
        timed.setdefault(o["round"], []).append(o)
    bad = {}
    for r, ops in enumerate(stream):
        recs = timed.get(r, [])
        if r > 0 and len(recs) != len(ops):
            return bad, [f"round {r} ran {len(recs)} of {len(ops)} ops"]
        for i, op in enumerate(ops):
            t = op["op"]
            if t in gen.LAKE_READS:
                if r == 0 or not recs[i]["ok"]:
                    continue
                want = model.read(op)
                cols = POINT_COLS if t == "point" else TOTAL_COLS
                why = compare(normalize, load_kept(work, recs[i]["seq"]),
                              (cols, [tuple(x) for x in want]))
                if why:
                    bad[recs[i]["seq"]] = why
            else:
                model.apply(op)
                if t in gen.LAKE_WRITES:
                    model.snapshot()
    got = con.execute(f"SELECT k, d, cat, v, n FROM "
                      f"read_parquet('{work}/final/*.parquet')").fetchall()
    want = [(k, *r) for k, r in model.rows.items()]
    why = compare(normalize, (POINT_COLS, got), (POINT_COLS, want))
    return bad, ([f"final table: {why}"] if why else [])


def check(workload, res, inputs, work, seed, size, repo):
    normalize = _normalizer(repo)
    con = duckdb.connect()
    if workload == "text_dedup":
        return check_text(res, inputs, work, normalize, con)
    return check_lake(res, seed, size, work, normalize, con)

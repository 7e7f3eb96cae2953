"""Seeded input generators for the graft benchmark.

Every input the program sees is written here, from the seed alone, before
the program starts. The same seed and size give byte-identical inputs.

  text_dedup       documents.parquet/ (a directory of part files) and
                   planted.json (the planted duplicate groups)
  lakehouse_churn  base.parquet/ + ops.json (the seeded operation stream)

The lakehouse generator also keeps the reference model of the table
(`LakeModel`): it decides each write's rows from the model's state, and
the checks replay the same model to know what every read must return.
"""
import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Input sizes. "smoke" keeps every workload under a minute end to end.
SIZES = {
    "full": {
        "files": 8,
        "docs": 4000, "hot": 200, "null_share": 0.02,
        "lake_rows": 100_000, "lake_files": 8,
    },
    "smoke": {
        "files": 8,
        "docs": 1500, "hot": 200, "null_share": 0.02,
        "lake_rows": 20_000, "lake_files": 8,
    },
}


def _write_dir(table, path, files):
    """Write `table` as `files` parquet part files under directory `path`."""
    os.makedirs(path, exist_ok=True)
    n = table.num_rows
    bounds = np.linspace(0, n, files + 1).astype(int)
    for i in range(files):
        part = table.slice(bounds[i], bounds[i + 1] - bounds[i])
        pq.write_table(part, os.path.join(path, f"part-{i:05d}.parquet"))


# ---------------------------------------------------------------- text_dedup

VOCAB = 5000
SHAPE_SEED = 20240101
# Zipf(1) over the vocabulary, as in natural text: the commonest token
# is about 11 % of all tokens, and most tokens are rare
_P = 1.0 / np.arange(1, VOCAB + 1)
_P /= _P.sum()


def _tokens(rng, n):
    return [f"t{r}" for r in rng.choice(VOCAB, size=n, p=_P)]


def gen_text(out, seed, size):
    """The dedup corpus.

    Make-up (full size): `docs` rows in `files` part files, shuffled so
    every file holds a share of each duplicate group.
      - one hot exact-duplicate group of `hot` identical copies;
      - further exact-duplicate groups with sizes drawn from a Zipf(2)
        tail (2 .. 64 copies);
      - near-duplicates: 1 to 3 single-token substitutions of a base doc;
      - `null_share` of the rows have NULL text;
      - the rest are unique docs of 20 to 80 tokens.
    planted.json lists the exact-duplicate groups for the property checks.
    The shares are chosen, not measured: the README says why each is
    what it is.
    """
    cfg = SIZES[size]
    rng = np.random.default_rng(seed)
    # the make-up (group sizes, variant counts) is the same for every
    # seed, so each seed asks for the same amount of work; the seed
    # decides the content
    shape = np.random.default_rng(SHAPE_SEED)
    n = cfg["docs"]
    texts = []
    groups = []  # lists of row positions holding identical text

    def doc():
        return " ".join(_tokens(rng, int(rng.integers(20, 81))))

    hot = doc()
    groups.append(list(range(len(texts), len(texts) + cfg["hot"])))
    texts += [hot] * cfg["hot"]
    budget = int(n * 0.15)
    while budget > 1:
        g = int(min(shape.zipf(2.0) + 1, 64, budget))
        t = doc()
        groups.append(list(range(len(texts), len(texts) + g)))
        texts += [t] * g
        budget -= g
    n_near = int(n * 0.10)
    for _ in range(n_near // 2):
        base = doc().split(" ")
        texts.append(" ".join(base))
        for _ in range(int(shape.integers(1, 4))):
            v = list(base)
            v[int(rng.integers(0, len(v)))] = f"x{int(rng.integers(0, 10**6))}"
            texts.append(" ".join(v))
    n_null = int(n * cfg["null_share"])
    while len(texts) < n - n_null:
        texts.append(doc())
    texts += [None] * (n - len(texts))

    perm = rng.permutation(n)            # row order in the files
    ids = rng.permutation(n).astype(np.int64) * 7 + 11   # sparse unique ids
    order = np.argsort(perm)             # order[j] = original row at slot j
    rows_text = [texts[i] for i in order]
    rows_id = ids[order]
    langs = np.array(["de", "en", "es", "fr", "zh"])
    table = pa.table({
        "doc_id": pa.array(rows_id, pa.int64()),
        "text": pa.array(rows_text, pa.string()),
        "lang": pa.array(langs[rng.integers(0, 5, n)], pa.string()),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20, n)],
                           pa.string()),
        "n_chars": pa.array([len(t) if t is not None else 0
                             for t in rows_text], pa.int64()),
    })
    _write_dir(table, os.path.join(out, "documents.parquet"), cfg["files"])
    planted = [[int(ids[i]) for i in g] for g in groups]
    with open(os.path.join(out, "planted.json"), "w") as f:
        json.dump({"dup_groups": planted}, f)


# ----------------------------------------------------------- lakehouse_churn

LAKE_DAYS = 120
LAKE_EPOCH = dt.date(2024, 1, 1)
LAKE_CATS = [f"c{i}" for i in range(10)]
# The fixed per-round operation sequence: 8 reads, 4 data writes, then
# the lifecycle verbs (OPTIMIZE, EXPIRE VERSIONS, VACUUM).
LAKE_ROUND = ["point", "merge", "range", "point", "asof", "update", "agg",
              "point", "delete", "range", "insert", "point",
              "optimize", "expire", "vacuum"]
LAKE_READS = {"point", "range", "asof", "agg"}
# the verbs that commit a new version
LAKE_WRITES = {"merge", "insert", "update", "delete", "optimize"}
KEEP_VERSIONS = 4


class LakeModel:
    """The reference table, kept independently of the program: key ->
    [day, cat, v, n], with per-(cat, day) sums kept alongside so range
    and aggregate reads are answered without a scan."""

    def __init__(self, rows):
        self.rows = {}
        self.cells = {}      # (cat, day) -> [count, sum v, sum n]
        self.members = {}    # (cat, day) -> set of keys
        for k, r in rows.items():
            self._put(k, list(r))
        self.history = []    # per-cat totals after each write, by index
        self.snapshot()      # write 0 is the seeded base

    def _cell(self, k, r, sign):
        key = (r[1], r[0])
        c = self.cells.setdefault(key, [0, 0.0, 0])
        c[0] += sign
        c[1] += sign * r[2]
        c[2] += sign * r[3]
        m = self.members.setdefault(key, set())
        (m.add if sign > 0 else m.discard)(k)

    def _put(self, k, r):
        self._drop(k)
        self.rows[k] = r
        self._cell(k, r, 1)

    def _drop(self, k):
        old = self.rows.pop(k, None)
        if old is not None:
            self._cell(k, old, -1)

    def snapshot(self):
        self.history.append(self.totals())

    def totals(self, lo=None, hi=None):
        out = {}
        for (cat, d), (c, sv, sn) in self.cells.items():
            if c == 0 or (lo is not None and not lo <= d <= hi):
                continue
            t = out.setdefault(cat, [0, 0.0, 0])
            t[0] += c
            t[1] += sv
            t[2] += sn
        return sorted([cat, *t] for cat, t in out.items())

    def apply(self, op):
        t = op["op"]
        if t in ("merge", "insert"):
            for k, d, cat, v, n in op["rows"]:
                if v < 0:
                    self._drop(k)
                else:
                    self._put(k, [d, cat, v, n])
        elif t == "update":
            for d in range(op["lo"], op["hi"] + 1):
                for k in list(self.members.get((op["cat"], d), ())):
                    d0, cat, v, n = self.rows[k]
                    self._put(k, [d0, cat, v + 1.0, n + 1])
        elif t == "delete":
            for k in list(self.members.get((op["cat"], op["day"]), ())):
                self._drop(k)

    def read(self, op):
        """What read `op` must return, as sorted rows."""
        t = op["op"]
        if t == "point":
            r = self.rows.get(op["key"])
            return [] if r is None else [[op["key"], *r]]
        if t == "range":
            return self.totals(op["lo"], op["hi"])
        if t == "agg":
            return self.totals()
        if t == "asof":
            return self.history[op["write"]]
        raise ValueError(t)


def _lake_base(rng, n):
    keys = rng.permutation(n * 4)[:n].astype(np.int64) * 3 + 1
    cols = zip(keys.tolist(), rng.integers(0, LAKE_DAYS, n).tolist(),
               rng.integers(0, 10, n).tolist(),
               (rng.integers(0, 4000, n) / 4.0).tolist(),
               rng.integers(0, 1000, n).tolist())
    return {k: (d, LAKE_CATS[c], v, x) for k, d, c, v, x in cols}


def _lake_ops(rng, model, rounds, n):
    """The seeded stream: `rounds` copies of LAKE_ROUND, each op's
    arguments drawn against the model's state at that point. The hit
    rate and write sizes are chosen, not measured (see the README)."""
    next_key = [max(model.rows) + 2]
    ops = []
    writes = 0

    def fresh_rows(m):
        ks = range(next_key[0], next_key[0] + 3 * m, 3)
        next_key[0] += 3 * m
        cols = zip(ks, rng.integers(0, LAKE_DAYS, m).tolist(),
                   rng.integers(0, 10, m).tolist(),
                   (rng.integers(0, 4000, m) / 4.0).tolist(),
                   rng.integers(0, 1000, m).tolist())
        return [[k, d, LAKE_CATS[c], v, x] for k, d, c, v, x in cols]

    def live_key():
        while True:
            k = keys[int(rng.integers(0, len(keys)))]
            if k in model.rows:
                return k

    for r in range(rounds):
        keys = list(model.rows)   # refreshed once a round; see live_key
        rnd = []
        for t in LAKE_ROUND:
            if t == "point":
                # 3 in 4 lookups hit a live key; the rest miss
                if rng.random() < 0.75:
                    op = {"op": t, "key": live_key()}
                else:
                    op = {"op": t, "key": int(rng.integers(0, 10**6)) * 3 + 2}
            elif t == "range":
                lo = int(rng.integers(0, LAKE_DAYS - 4))
                op = {"op": t, "lo": lo, "hi": lo + 3}
            elif t == "agg":
                op = {"op": t}
            elif t == "asof":
                back = int(rng.integers(1, KEEP_VERSIONS))
                op = {"op": t, "write": max(0, writes - back)}
            elif t == "merge":
                # ~1 % of the table: half upserts of live keys (one in
                # eight of them deletes, flagged by v < 0), half new keys
                m = max(2, n // 100)
                picked = {live_key() for _ in range(m // 2)}
                rows = []
                for j, k in enumerate(sorted(picked)):
                    d, cat, v, nn = model.rows[k]
                    rows.append([k, d, cat, -1.0 if j % 8 == 0 else v + 0.5,
                                 nn + 1])
                rows += fresh_rows(m - len(rows))
                op = {"op": t, "rows": rows}
            elif t == "insert":
                op = {"op": t, "rows": fresh_rows(max(1, n // 1000))}
            elif t == "update":
                d, cat, _, _ = model.rows[live_key()]
                op = {"op": t, "cat": cat, "lo": max(0, d - 1), "hi": d + 1}
            elif t == "delete":
                d, cat, _, _ = model.rows[live_key()]
                op = {"op": t, "cat": cat, "day": d}
            else:  # lifecycle verbs change no rows
                op = {"op": t}
            if t in LAKE_WRITES:
                model.apply(op)
                model.snapshot()
                writes += 1
            rnd.append(op)
        ops.append(rnd)
    return ops


def lake_stream(seed, size, rounds):
    """The seeded base rows and `rounds` rounds of operations (round 0 is
    the warm-up round)."""
    cfg = SIZES[size]
    rng = np.random.default_rng(seed)
    base = _lake_base(rng, cfg["lake_rows"])
    model = LakeModel(base)
    ops = _lake_ops(rng, model, rounds, cfg["lake_rows"])
    return base, ops


def gen_lake(out, seed, size, rounds):
    cfg = SIZES[size]
    base, ops = lake_stream(seed, size, rounds)
    keys = sorted(base)
    table = pa.table({
        "k": pa.array(keys, pa.int64()),
        "d": pa.array([LAKE_EPOCH + dt.timedelta(days=base[k][0])
                       for k in keys], pa.date32()),
        "cat": pa.array([base[k][1] for k in keys], pa.string()),
        "v": pa.array([base[k][2] for k in keys], pa.float64()),
        "n": pa.array([base[k][3] for k in keys], pa.int64()),
    })
    _write_dir(table, os.path.join(out, "base.parquet"), cfg["lake_files"])
    with open(os.path.join(out, "ops.json"), "w") as f:
        json.dump({"epoch": LAKE_EPOCH.isoformat(), "keep": KEEP_VERSIONS,
                   "rounds": ops}, f, separators=(",", ":"))


def generate(workload, out, seed, size, rounds):
    os.makedirs(out, exist_ok=True)
    if workload == "text_dedup":
        gen_text(out, seed, size)
    elif workload == "lakehouse_churn":
        gen_lake(out, seed, size, rounds)
    else:
        raise ValueError(f"unknown workload {workload}")

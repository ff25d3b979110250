"""Independent output checks for the benchmark's ops, run after the timed loop.

frame-analytics: each op's result against DuckDB SQL over the same parquet.
index-search: each search against a brute-force BM25 / cosine / RRF replay of
the live corpus (the build plus the tail batch, last version wins, deletes and
near-dups the screen dropped removed), in plain Python.

check() returns (attempted, failed, notes) over the timed and the warm-up ops;
an op that threw in the benchmark JVM or whose output differs from its reference
counts as failed.
"""
import datetime
import math
from collections import Counter

K1, B = 1.2, 0.75
TOL = 2e-6


def close(a, b, rel=1e-6):
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, str) or isinstance(b, str):
        return norm_ts(a) == norm_ts(b)
    return abs(a - b) <= max(1e-9, rel * max(abs(a), abs(b)))


def norm_ts(v):
    """Timestamps compare as 'YYYY-MM-DD HH:MM:SS' whatever their source."""
    if isinstance(v, datetime.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S")
    if isinstance(v, str) and len(v) >= 16 and v[4] == "-" and v[10] in " T":
        s = v.replace("T", " ")
        return s + ":00" if len(s) == 16 else s[:19]
    return v


def rows_equal(got, want):
    return len(got) == len(want) and all(
        len(g) == len(w) and all(close(x, y) for x, y in zip(g, w))
        for g, w in zip(got, want))


# ---- frame-analytics ---------------------------------------------------

# What FrameAnalytics.scala asks for: the stats and the selected columns of
# the aggregate, groupby and quantile ops. The expected result columns are
# built from these, never from the columns graft returned.
AGG_STATS = ("min", "max", "mean", "sum", "std")
AGG_COLS = ("o_totalprice", "o_custkey")
GROUP_STATS = ("sum", "mean", "count")
GROUP_COLS = ("l_quantity", "l_extendedprice", "l_discount")
QUANTILE_COLS = ("l_quantity", "l_discount")
AGG_SQL = {"min": "min", "max": "max", "mean": "avg", "sum": "sum",
           "std": "stddev_samp", "count": "count"}


def expected_cols(op):
    """The result columns the request implies, or None where the check
    compares values only."""
    k, p = op["kind"], op["params"]
    if k == "aggregate":
        return [f"{c}_{a}" for a in AGG_STATS for c in AGG_COLS]
    if k == "groupby":
        return ["l_returnflag", "l_linestatus"] + \
            [f"{c}_{a}" for c in GROUP_COLS for a in GROUP_STATS]
    if k == "quantile":
        return [f"{c}_q{x}" for c in QUANTILE_COLS for x in p["qs"]]
    return None


def frame_reference(con, op):
    k, p = op["kind"], op["params"]
    q = lambda sql, *args: [list(r) for r in con.execute(sql, list(args)).fetchall()]
    if k == "filter_head":
        return q("SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, "
                 "o_orderpriority FROM orders WHERE o_totalprice > ? "
                 "ORDER BY o_orderkey LIMIT ?", p["min_price"], p["n"])
    if k == "describe":
        cols = ["l_quantity", "l_discount", "l_tax"]
        frm = datetime.datetime.fromisoformat(p["ship_from"])
        to = frm + datetime.timedelta(days=p["ship_days"])
        aggs = [("count", "count({})::DOUBLE"), ("mean", "avg({})"),
                ("std", "stddev_samp({})"), ("min", "min({})::DOUBLE"),
                ("25%", "quantile_cont({}, 0.25)"), ("50%", "quantile_cont({}, 0.5)"),
                ("75%", "quantile_cont({}, 0.75)"), ("max", "max({})::DOUBLE")]
        sel = ", ".join(a.format(c) for _, a in aggs for c in cols)
        r = q(f"SELECT {sel} FROM lineitem WHERE l_shipdate >= ? AND l_shipdate < ?",
              frm, to)[0]
        return [[name] + r[i * 3:i * 3 + 3] for i, (name, _) in enumerate(aggs)]
    if k == "aggregate":
        sel = ", ".join(f"{AGG_SQL[a]}({c})" for a in AGG_STATS for c in AGG_COLS)
        return q(f"SELECT {sel} FROM orders WHERE o_orderstatus = ?", p["status"])
    if k == "groupby":
        sel = ", ".join(f"{AGG_SQL[a]}({c})" for c in GROUP_COLS for a in GROUP_STATS)
        return q(f"SELECT l_returnflag, l_linestatus, {sel} FROM lineitem "
                 "WHERE l_quantity <= ? GROUP BY 1, 2 ORDER BY 1, 2", p["max_qty"])
    if k == "value_counts":
        c = p["column"]
        return q(f"SELECT {c}, count(*) AS n FROM events WHERE value >= ? "
                 f"GROUP BY 1 ORDER BY n DESC, {c} LIMIT ?", p["min_value"], p["n"])
    if k == "hist":
        return q("WITH f AS (SELECT l_extendedprice x FROM lineitem WHERE l_discount <= ?), "
                 "m AS (SELECT min(x) mn, max(x) mx FROM f) "
                 "SELECT CASE WHEN mx = mn THEN 0 ELSE least(floor((x - mn) / "
                 "((mx - mn) / ?)), ? - 1) END AS bin, count(*) FROM f, m "
                 "GROUP BY 1 ORDER BY 1", p["max_discount"], float(p["bins"]), p["bins"])
    if k == "quantile":
        sel = ", ".join(f"quantile_cont({c}, {x})" for c in QUANTILE_COLS for x in p["qs"])
        return q(f"SELECT {sel} FROM lineitem WHERE l_returnflag = ?", p["flag"])
    if k == "dsl_terms_agg":
        flags = p["flags"]
        return q("SELECT CAST(l_suppkey AS VARCHAR) AS key, count(*) AS n FROM lineitem "
                 f"WHERE l_quantity >= ? AND l_quantity <= ? AND l_returnflag IN "
                 f"({', '.join('?' for _ in flags)}) GROUP BY 1 ORDER BY n DESC, key LIMIT ?",
                 p["qty_lo"], p["qty_hi"], *flags, p["size"])
    if k == "dsl_histogram":
        return q("SELECT floor(l_extendedprice / ?) * ? AS key, count(*) FROM lineitem "
                 "WHERE l_discount <= ? GROUP BY 1 ORDER BY 1",
                 p["interval"], p["interval"], p["max_discount"])
    if k == "dsl_auto_date_histogram":
        types = p["types"]
        where = f"event_type IN ({', '.join('?' for _ in types)})"
        mn, mx = q(f"SELECT min(floor(epoch(ts))), max(floor(epoch(ts))) FROM events "
                   f"WHERE {where}", *types)[0]
        fixed = [(1, "1s"), (5, "5s"), (10, "10s"), (30, "30s"), (60, "1m"),
                 (300, "5m"), (600, "10m"), (1800, "30m"), (3600, "1h"),
                 (10800, "3h"), (43200, "12h"), (86400, "1d"), (604800, "7d")]
        i, name = next((i, n) for i, n in fixed
                       if mx // i - mn // i + 1 <= p["buckets"])
        rows = q(f"SELECT floor(floor(epoch(ts)) / ?) * ? AS b, count(*) FROM events "
                 f"WHERE {where} GROUP BY 1 ORDER BY 1", i, i, *types)
        utc = datetime.timezone.utc
        return [[datetime.datetime.fromtimestamp(b, utc).strftime("%Y-%m-%d %H:%M:%S"),
                 name, n] for b, n in rows]
    if k == "dsl_composite_page":
        after = p["after"]
        pred = "" if not after else \
            " AND (o_orderpriority > ? OR (o_orderpriority = ? AND o_orderstatus > ?))"
        args = [] if not after else [after[0], after[0], after[1]]
        return q("SELECT o_orderpriority, o_orderstatus, count(*) FROM orders "
                 f"WHERE o_totalprice >= ?{pred} GROUP BY 1, 2 ORDER BY 1, 2 LIMIT ?",
                 p["min_price"], *args, p["size"])
    if k == "dsl_matrix_stats":
        cols = ["l_quantity", "l_extendedprice", "l_discount"]
        out = []
        for i, a in enumerate(cols):
            for b in cols[i:]:
                out += q(f"SELECT '{a}', '{b}', count(*), avg({a}), avg({b}), "
                         f"covar_samp({a}, {b}), corr({a}, {b}) FROM lineitem "
                         "WHERE l_linestatus = ?", p["status"])
        return out
    raise ValueError(k)


def ingest_reference(con, priority):
    return [list(r) for r in con.execute(
        "SELECT o_orderkey, CAST(split_part(o_orderpriority, '-', 1) AS BIGINT), "
        "lower(substr(o_orderpriority, strpos(o_orderpriority, '-') + 1)), 'graft', "
        "CAST(o_orderkey AS VARCHAR), regexp_replace(o_orderstatus, '^O$', 'OPEN') "
        "FROM orders WHERE o_orderpriority = ? ORDER BY o_orderkey LIMIT 20",
        [priority]).fetchall()]


def check_frame(chk, data_dir, notes):
    import duckdb
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    for t in ("lineitem", "orders", "events"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    samples_ok = {p: rows_equal(rows, ingest_reference(con, p))
                  for p, rows in chk["ingest_samples"].items()}
    cache, failed = {}, 0
    for i, op in enumerate(chk["ops"]):
        if op["kind"] == "ingest_noop":
            ok = samples_ok.get(op["params"]["priority"], False)
        else:
            key = (op["kind"], repr(op["params"]))
            if key not in cache:
                cache[key] = frame_reference(con, op)
            want_cols = expected_cols(op)
            ok = (want_cols is None or op["cols"] == want_cols) and \
                rows_equal(op["rows"], cache[key])
        if not ok:
            failed += 1
            notes.append(f"op {i} {op['kind']} {op['params']}: output differs")
    return failed


# ---- index-search ------------------------------------------------------

def toks(text):
    return text.lower().split()


class Field:
    """BM25 statistics of one text field over the live docs."""

    def __init__(self, docs):
        self.toks = {i: toks(t) for i, t in docs.items()}
        self.n = len(self.toks)
        self.avg = sum(len(t) for t in self.toks.values()) / self.n
        self.tf = {i: Counter(t) for i, t in self.toks.items()}
        self.df = Counter(w for c in self.tf.values() for w in c)

    def idf(self, t):
        df = self.df.get(t, 0)
        return math.log(1 + (self.n - df + 0.5) / (df + 0.5))

    def norm(self, i):
        return K1 * (1 - B + B * len(self.toks[i]) / self.avg)

    def term(self, i, t):
        tf = self.tf[i].get(t, 0)
        return self.idf(t) * tf * (K1 + 1) / (tf + self.norm(i)) if tf else 0.0

    def scores(self, terms):
        return {i: sum(self.term(i, t) for t in terms)
                for i in self.tf if any(t in self.tf[i] for t in terms)}

    def phrase(self, terms):
        idf = sum(self.idf(t) for t in terms)
        out = {}
        for i, ts in self.toks.items():
            ptf = sum(1 for p in range(len(ts) - len(terms) + 1)
                      if ts[p:p + len(terms)] == terms)
            if ptf:
                out[i] = idf * ptf * (K1 + 1) / (ptf + self.norm(i))
        return out


def r6(x):
    return math.floor(x * 1e6 + 0.5) / 1e6


def ranked(scores):
    return sorted(((r6(s), i) for i, s in scores.items()), key=lambda p: (-p[0], p[1]))


def topk_matches(got, scores, k):
    """Engine rows [(id, score)] against the reference scores of every
    matching doc; ties may come in either order."""
    want = ranked(scores)[:k]
    if len(got) != len(want):
        return False
    for (gid, gs), (ws, _) in zip(got, want):
        if gid not in scores or abs(r6(scores[gid]) - gs) > TOL or abs(gs - ws) > TOL:
            return False
    return True


def cosines(q, vecs):
    qn = math.sqrt(sum(x * x for x in q))
    out = {}
    for i, v in vecs.items():
        vn = math.sqrt(sum(x * x for x in v))
        out[i] = sum(a * b for a, b in zip(q, v)) / (qn * vn)
    return out


def check_search(chk, notes):
    live = {d[0]: d for d in chk["base"]}
    dropped = set(chk["dropped"])
    for d in chk["fresh"]:
        if d[0] not in dropped:
            live[d[0]] = d
    for d in chk["updates"]:
        live[d[0]] = d
    for i in chk["deletes"]:
        live.pop(i, None)
    text = Field({i: d[1] for i, d in live.items()})
    title = Field({i: d[2] for i, d in live.items()})
    vecs = {i: d[3] for i, d in live.items()}
    k = chk["k"]
    boosts = [(title, 2.0), (text, 1.0)]

    def fielded(per_field, tie):
        out = {}
        for f, bo in boosts:
            for i, s in per_field(f).items():
                out.setdefault(i, []).append(bo * s)
        return {i: max(v) + tie * (sum(v) - max(v)) for i, v in out.items()}

    def reference(kind, p):
        if kind == "bm25":
            return text.scores(p["terms"])
        if kind == "bool":
            must, should, nots = p["must"], p["should"], p["must_not"]
            should = [t for t in should if t not in must]
            out = {}
            for i, c in text.tf.items():
                if all(t in c for t in must) and not any(t in c for t in nots) and \
                        (must or any(t in c for t in should)):
                    out[i] = sum(text.term(i, t) for t in must + should)
            return out
        if kind == "bool_prefix":
            qs = toks(p["query"])
            full, pre = list(dict.fromkeys(qs[:-1])), qs[-1]
            out = {}
            for i, c in text.tf.items():
                if any(w.startswith(pre) for w in c) and all(t in c for t in full):
                    out[i] = sum(text.term(i, t) for t in full) + 1.0
            return out
        if kind == "fielded_best":
            return fielded(lambda f: f.scores(toks(p["query"])), 0.3)
        if kind == "fielded_most":
            return fielded(lambda f: f.scores(toks(p["query"])), 1.0)
        if kind == "fielded_phrase":
            return fielded(lambda f: f.phrase(toks(p["phrase"])), 0.4)
        if kind == "knn":
            return cosines(p["vec"], vecs)
        if kind == "hybrid":
            rrf = {}
            for leg in (text.scores(p["terms"]), cosines(p["vec"], vecs)):
                for rank, (_, i) in enumerate(ranked(leg)[:30], 1):
                    rrf[i] = rrf.get(i, 0.0) + 1.0 / (60 + rank)
            return rrf
        raise ValueError(kind)

    failed = 0
    for n, op in enumerate(chk["ops"]):
        got = [(r[0], r[1]) for r in op["rows"]]
        if not topk_matches(got, reference(op["kind"], op["params"]), k):
            failed += 1
            notes.append(f"op {n} {op['kind']} {op['params'] if op['kind'] not in ('knn', 'hybrid') else ''}: top-{k} differs: {got[:3]}")
    return failed


def check(workload, res, data_dir):
    notes = list(res["errors"])
    chk = res["check"]
    failed = len(res["errors"])
    if workload == "frame-analytics":
        failed += check_frame(chk, data_dir, notes)
    else:
        failed += check_search(chk, notes)
    return len(chk["ops"]) + len(res["errors"]), failed, notes

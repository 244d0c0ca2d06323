"""Output checks: every op's digest against the generator's ground truth,
or against DuckDB run on the same generated rows. A check returns None
when the output is right and a one-line reason when it is not."""


import datetime as dt
import os
from decimal import Decimal, InvalidOperation

import gen


def _num(x):
    if x is None or isinstance(x, bool):
        return None
    try:
        return Decimal(str(x))
    except (InvalidOperation, ValueError):
        return None


def _canon(v):
    """A cell as (kind, value): numbers compare numerically, the rest as
    text (dates render ISO on both sides)."""
    if v is None:
        return (0, None)
    n = _num(v) if not hasattr(v, "isoformat") else None
    if n is not None and n.is_finite():
        return (1, n)
    return (2, v.isoformat() if hasattr(v, "isoformat") else str(v))


def _key(row):
    return tuple((c[0], "" if c[1] is None else
                  (round(float(c[1]), 4) if c[0] == 1 else c[1]))
                 for c in row)


def same_rows(got, want, abs_tol=0.0):
    """Multiset equality of two row lists, numbers within a relative 1e-9
    (or `abs_tol`)."""
    if len(got) != len(want):
        return f"{len(got)} rows, expected {len(want)}"
    g = sorted((tuple(_canon(v) for v in r) for r in got), key=_key)
    w = sorted((tuple(_canon(v) for v in r) for r in want), key=_key)
    for a, b in zip(g, w):
        if len(a) != len(b):
            return f"row width {len(a)} != {len(b)}"
        for x, y in zip(a, b):
            if x[0] != y[0]:
                return f"cell {x[1]!r} != {y[1]!r}"
            if x[0] == 1:
                fx, fy = float(x[1]), float(y[1])
                if abs(fx - fy) > max(abs_tol, 1e-9 * max(1.0, abs(fx), abs(fy))):
                    return f"value {x[1]} != {y[1]}"
            elif x[1] != y[1]:
                return f"value {x[1]!r} != {y[1]!r}"
    return None


def _eq(d, key, want):
    got = d.get(key)
    if _num(got) is not None and _num(want) is not None:
        return None if _num(got) == _num(want) else f"{key}={got}, expected {want}"
    return None if got == want else f"{key}={got!r}, expected {want!r}"


def _first(*reasons):
    return next((r for r in reasons if r), None)


# --------------------------------------------------------- superstore_elt

def load_ts(p):
    """Pass `p`'s fact load_ts as the harness stamps it: a minute per pass
    after 2018-03-01 00:00:00 (the warm-up pass is -1)."""
    return (dt.datetime(2018, 3, 1) + dt.timedelta(minutes=p + 1)).strftime(
        "%Y-%m-%d %H:%M:%S")


def check_elt(name, d, p, truth, marts):
    run = truth["runs"][0]
    op = name.split(".", 1)[1]
    if op == "load_raw":
        return _first(_eq(d, "rows", run["raw_rows"]),
                      _eq(d, "sum_Sales", run["raw_sum_sales"]))
    if op == "staging":
        return _first(_eq(d, "rows", run["rows_after_dedup"]),
                      _eq(d, "sum_sales", run["sum_sales"]),
                      _eq(d, "sum_profit", run["sum_profit"]),
                      _eq(d, "sum_quantity", run["sum_quantity"]))
    if op == "commit_stg":
        return _eq(d, "rows", run["rows_after_dedup"])
    if op in ("commit_fact_sales", "asof_fact"):
        # the AS-OF read must see the version the previous pass committed
        ts = load_ts(p if op == "commit_fact_sales" else p - 1)
        return _first(_eq(d, "rows", run["fact_rows"]),
                      _eq(d, "sum_sales", run["fact_sum_sales"]),
                      _eq(d, "sum_quantity", run["fact_sum_quantity"]),
                      _eq(d, "load_ts", [ts, ts]))
    if op.startswith("commit_"):
        return _eq(d, "rows", run["dim_rows"][op[len("commit_"):]])
    if op.startswith("mart_"):
        m = op[len("mart_"):]
        tol = 2e-4 if m == "top_products" else 0.0
        return same_rows(d["rows"], marts.expected(m), tol)
    return f"no check for op {name}"


# ------------------------------------------------------------------ marts

STG_TYPES = {"sales": "DECIMAL(18,2)", "profit": "DECIMAL(18,2)",
             "quantity": "INTEGER", "discount": "DECIMAL(9,4)",
             "order_date": "DATE", "ship_date": "DATE"}


class Marts:
    """Expected mart results: DuckDB over the clean staging rows the
    generator wrote beside the extract (table `base`)."""

    MEASURES = ("count(sales) AS count_sales, count(profit) AS count_profit, "
                "sum(quantity) AS sum_quantity")
    SQL = {
        "pivot_category":
            f"SELECT category, {MEASURES} FROM base GROUP BY ROLLUP(category)",
        "pivot_category_west":
            f"SELECT category, {MEASURES} FROM base WHERE region = 'West' "
            "GROUP BY ROLLUP(category)",
        "pivot_order_date":
            f"SELECT y, mo, d, {MEASURES}, CAST(GROUPING(y, mo, d) AS INT) "
            "FROM (SELECT year(order_date) y, month(order_date) mo, "
            "order_date d, sales, profit, quantity FROM base) "
            "GROUP BY ROLLUP(y, mo, d)",
        # the product dim's name is MAX per (id, category, sub-category);
        # the share divides by the whole sub-category before the rank cut
        "top_products":
            "WITH pr AS (SELECT product_id, category, sub_category, "
            "max(product_name) pn FROM base GROUP BY 1, 2, 3), "
            "p AS (SELECT pr.sub_category sc, pr.pn, sum(b.profit) tp "
            "FROM base b JOIN pr USING (product_id, category, sub_category) "
            "GROUP BY 1, 2), "
            "w AS (SELECT sc, pn, tp, CAST(CAST(tp AS DOUBLE) / NULLIF(sum(tp) "
            "OVER (PARTITION BY sc), 0) AS DECIMAL(9,4)) sh, rank() OVER "
            "(PARTITION BY sc ORDER BY tp DESC) rk FROM p) "
            "SELECT * FROM w WHERE rk <= 5",
    }

    def __init__(self, input_dir):
        import duckdb
        self.db = duckdb.connect()
        self.memo = {}
        path = os.path.join(input_dir, "stg_0.csv").replace("'", "''")
        cols = ", ".join(f"CAST({c} AS {STG_TYPES[c]}) AS {c}"
                         if c in STG_TYPES else c for c in gen.STG_COLS)
        self.db.execute(
            f"CREATE TABLE base AS SELECT {cols} FROM read_csv('{path}', "
            "all_varchar=true, header=true)")

    def expected(self, op):
        if op not in self.memo:
            self.memo[op] = [list(r) for r in
                             self.db.execute(self.SQL[op]).fetchall()]
        return self.memo[op]


# ----------------------------------------------------------- corpus_dedup

class Corpus:
    def __init__(self, truth):
        self.t = truth
        self.pairs = {(a, b): (k, j) for a, b, k, j in truth["jaccard_pairs"]}
        groups = truth["planted"]["exact_groups"]
        self.exact_pairs = {(g[i], g[j]) for g in groups
                            for i in range(len(g)) for j in range(i + 1, len(g))}
        self.group_of = {}
        for g in groups + truth["planted"]["near_groups"]:
            for d in g:
                self.group_of[d] = set(g)
        self.emb = {int(k): v for k, v in truth["embeddings"].items()}
        self.copies = truth["batch_copies"]

    def _cos(self, a, b):
        import numpy as np
        x = np.asarray(self.emb[a], dtype=np.float32).astype(np.float64)
        y = np.asarray(self.emb[b], dtype=np.float32).astype(np.float64)
        return float(x @ y / (np.linalg.norm(x) * np.linalg.norm(y)))

    def _ivf_topk(self, rows, queries):
        """Ranks 1..k per query, cosines that recompute, and the planted
        partner on top (twin vectors share their nearest centroid)."""
        by_q = {}
        for q, n, c, r in rows:
            by_q.setdefault(int(q), []).append((int(r), int(n), float(c)))
        if set(by_q) != set(queries):
            return f"{len(by_q)} queries answered, expected {len(queries)}"
        for q, hits in by_q.items():
            hits.sort()
            if [h[0] for h in hits] != list(range(1, len(hits) + 1)):
                return f"query {q}: ranks {[h[0] for h in hits]}"
            for _, n, c in hits:
                if abs(c - self._cos(q, n)) > 1e-5:
                    return f"query {q}: cosine {c} for {n}"
            if hits[0][1] not in self.group_of[q] - {q}:
                return f"query {q}: top hit {hits[0]}"
        return None

    def check(self, name, d, _pass):
        t = self.t
        if name == "corpus.exact_groups":
            return _first(_eq(d, "groups", t["exact"]["groups"]),
                          _eq(d, "docs", t["n_docs"]),
                          _eq(d, "dup_groups", t["exact"]["dup_groups"]))
        if name == "corpus.lsh_candidates":
            got = {(int(a), int(b)) for a, b in d["pairs"]}
            if any(a >= b for a, b in got):
                return "candidate pair not ordered a < b"
            missing = self.exact_pairs - got
            return f"{len(missing)} exact-duplicate pairs missed" if missing else None
        if name == "corpus.jaccard_pairs":
            got = {(int(a), int(b)): (int(k), float(j)) for a, b, k, j in d["pairs"]}
            if set(got) != set(self.pairs):
                return (f"{len(set(got) - set(self.pairs))} extra, "
                        f"{len(set(self.pairs) - set(got))} missing pairs")
            bad = [p for p in got if got[p][0] != self.pairs[p][0] or
                   abs(got[p][1] - self.pairs[p][1]) > 1e-12]
            return f"{len(bad)} pairs with wrong overlap" if bad else None
        if name == "corpus.simhash":
            fp = {int(a): b for a, b in d["pairs"]}
            if len(fp) != t["n_docs"]:
                return f"{len(fp)} fingerprints for {t['n_docs']} docs"
            for g in t["planted"]["exact_groups"]:
                if len({fp[x] for x in g}) != 1:
                    return f"exact duplicates {g} got different fingerprints"
            return None
        if name == "corpus.ivf_topk":
            return self._ivf_topk(d["pairs"], t["queries"])
        if name == "corpus.components":
            return _first(_eq(d, "docs", t["n_docs"]),
                          _eq(d, "components", t["components"]))
        if name == "corpus.pipeline":
            ids = set(d["ids"])
            contaminated = set(t["contaminated"])
            if ids & contaminated:
                return f"contaminated docs kept: {sorted(ids & contaminated)[:5]}"
            in_group = set(self.group_of)
            must = set(range(1, t["n_docs"] + 1)) - in_group - contaminated
            if must - ids:
                return f"{len(must - ids)} unique docs dropped"
            for g in t["planted"]["exact_groups"]:
                if ids & set(g[1:]):
                    return f"exact duplicate kept over its min id in {g}"
            for g in t["planted"]["near_groups"]:
                if not ids & set(g):
                    return f"near-duplicate group {g} lost every member"
            return None
        n, sizes = t["n_docs"], t["batch_sizes"]
        if name == "index.neardup_batch":
            return _eq(d, "bands", 4 * (n + sum(sizes[b - 1]
                                                for b in d["batches"])))
        if name == "index.neardup_serve":
            b = d["batch"]
            lo = n + sum(sizes[:b - 1]) + 1
            hi = lo + sizes[b - 1] - 1
            got = {(min(int(a), int(c)), max(int(a), int(c)))
                   for a, c in d["pairs"]}
            if any(not (lo <= a <= hi or lo <= c <= hi) for a, c in got):
                return "candidate pair without a doc of this batch"
            want = {(min(x, s), max(x, s)) for x, s in self.copies[b - 1]}
            return f"{len(want - got)} planted copies missed" if want - got else None
        return f"no check for op {name}"


def checker(workload, input_dir, truth):
    if workload == "superstore_elt":
        marts = Marts(input_dir)
        return lambda name, d, p: check_elt(name, d, p, truth, marts)
    return Corpus(truth).check


def verdict(check, op):
    """None when the op succeeded and its output matched."""
    if op.get("error"):
        return op["error"]
    d = op.get("digest")
    if not isinstance(d, dict):
        return "no digest"
    if "check_error" in d:
        return "check failed: " + d["check_error"]
    try:
        return check(op["name"], d, op["pass"])
    except Exception as e:  # a malformed digest is a failed op
        return f"check raised {type(e).__name__}: {e}"




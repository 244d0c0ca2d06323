"""Seeded input generators for the benchmark workloads.

Every input the engine sees is written here from a seed, together with the
ground truth the output checks compare against. The engine never sees the
ground truth; the checks never parse the engine's inputs back.

Superstore extract: the reference file's shape (21 columns, M/d/yyyy
dates) with its six quirks at the reference rates (SURVEY 1.4):
  1. a trailing ';' on every line (header included),
  2. ~25.1% of rows wrapped whole in quotes, inner quotes doubled
     (2,510 of 9,994 in the reference),
  3. commas embedded in (quoted) product names,
  4. cp1252 0xA0 (NBSP) bytes inside product names
     (624 bytes over 9,994 rows in the reference),
  5. CRLF line endings,
  6. ~0.08% duplicate (Order ID, Product ID) lines (8 of 9,994).

Corpus: documents with planted exact duplicates, near-duplicates at
controlled word-level edit rates (their shingle Jaccard is measured and
recorded), contaminated documents that copy eval passages, unique
documents, one embedding per document, and arriving batches that carry
exact copies of base documents.
"""

import csv
import datetime as dt
import io
import json
import os
import random

REF_ROWS = 9994
WRAP_RATE = 2510 / 9994
NBSP_PER_ROW = 624 / 9994
DUP_RATE = 8 / 9994

# Corpus shape: base documents, arriving batches (batch_1.jsonl ..
# batch_<N_BATCHES>.jsonl) of BATCH_SIZE documents, embedding width.
N_BASE = 800
N_BATCHES = 4
BATCH_SIZE = 80
DIM = 32

HEADER = ("Row ID,Order ID,Order Date,Ship Date,Ship Mode,Customer ID,"
          "Customer Name,Segment,Country,City,State,Postal Code,Region,"
          "Product ID,Category,Sub-Category,Product Name,Sales,Quantity,"
          "Discount,Profit")

STG_COLS = ["order_id", "order_date", "ship_date", "ship_mode", "customer_id",
            "customer_name", "segment", "country", "city", "state",
            "postal_code", "region", "product_id", "category",
            "sub_category", "product_name", "sales", "quantity", "discount",
            "profit"]

CATEGORIES = {
    "Furniture": ["Bookcases", "Chairs", "Furnishings", "Tables"],
    "Office Supplies": ["Appliances", "Art", "Binders", "Envelopes",
                        "Fasteners", "Labels", "Paper", "Storage",
                        "Supplies"],
    "Technology": ["Accessories", "Copiers", "Machines", "Phones"],
}
CAT_CODE = {"Furniture": "FUR", "Office Supplies": "OFF", "Technology": "TEC"}
SHIP_MODES = ["First Class", "Same Day", "Second Class", "Standard Class"]
SEGMENTS = ["Consumer", "Corporate", "Home Office"]
REGIONS = ["Central", "East", "South", "West"]
WORDS = ["Deluxe", "Premium", "Classic", "Compact", "Heavy Duty", "Ultra",
         "Slim", "Ergonomic", "Executive", "Portable", "Wireless", "Modular",
         "Recycled", "Standard", "Rounded Back", "Stacking", "Adjustable",
         "Conference", "Desktop", "Mobile", "Archival", "Colored", "Pro"]
FIRST = ["Claire", "Darrin", "Sean", "Brosina", "Andrew", "Irene", "Harold",
         "Pete", "Alejandro", "Zuschuss", "Ken", "Sandra", "Emily", "Eric",
         "Tracy", "Matt", "Gene", "Steve", "Linda", "Ruben", "Erin", "Ted"]
LAST = ["Gute", "Van Huff", "O'Donnell", "Hoffman", "Allen", "Maddox",
        "Pawlan", "Kriz", "Grayson", "Carlisle", "Lonsdale", "Flanagan",
        "Ward", "Hooper", "Blumstein", "Abelman", "Hale", "Nguyen", "Dixon"]


def _money(r, lo, hi):
    return round(r.uniform(lo, hi), 2)


def _fmt_date(d):
    return f"{d.month}/{d.day}/{d.year}"


class _World:
    """The business entities behind one seeded extract family."""

    def __init__(self, r, mult):
        n_states = 49
        self.states = [f"State{i:02d}" for i in range(n_states)]
        state_region = {s: REGIONS[i % 4] for i, s in enumerate(self.states)}
        self.geos = []
        for i in range(int(531 * mult ** 0.5)):
            st = self.states[i % n_states]
            self.geos.append(("United States", f"City{i:04d}", st,
                              str(10000 + r.randrange(89999)),
                              state_region[st]))
        self.customers = {}
        for i in range(int(793 * mult)):
            cid = f"{r.choice('ABCDEFGHJKLMNPRSTVWZ')}{r.choice('ABDEGHKMS')}-{10000 + i * 7}"
            self.customers[cid] = {
                "name": f"{r.choice(FIRST)} {r.choice(LAST)}",
                "segment": r.choice(SEGMENTS), "home": r.choice(self.geos)}
        self.products = {}
        subs = [(c, s) for c, ss in CATEGORIES.items() for s in ss]
        for i in range(int(1862 * mult)):
            cat, sub = subs[i % len(subs)] if i < len(subs) else r.choice(subs)
            pid = f"{CAT_CODE[cat]}-{sub[:2].upper()}-{10000000 + i}"
            name = f"{r.choice(WORDS)} {sub} {i}"
            if r.random() < 0.12:
                name = f"{r.choice(WORDS)} {sub}, {r.choice(WORDS)} {i}"
            if r.random() < NBSP_PER_ROW:
                head, _, tail = name.rpartition(" ")
                name = f"{head}\u00a0{tail}"
            self.products[pid] = {"cat": cat, "sub": sub, "name": name}
        self.next_order = 100000


def _order_lines(r, world, n_orders, date_lo, date_hi):
    """Distinct (order, product) lines as dicts of staging-typed values."""
    lines = []
    span = (date_hi - date_lo).days
    pids = list(world.products)
    cids = list(world.customers)
    for _ in range(n_orders):
        world.next_order += 1
        od = date_lo + dt.timedelta(days=r.randrange(span + 1))
        oid = f"{r.choice(['CA', 'US'])}-{od.year}-{world.next_order}"
        cid = r.choice(cids)
        cust = world.customers[cid]
        geo = cust["home"] if r.random() < 0.7 else r.choice(world.geos)
        ship = od + dt.timedelta(days=r.randrange(8))
        mode = r.choice(SHIP_MODES)
        n = r.choice([1, 1, 1, 1, 2, 2, 2, 3, 3, 4])  # 2.0 lines per order
        for pid in r.sample(pids, n):
            qty = r.randint(1, 14)
            disc = r.choice(["0", "0", "0.1", "0.2", "0.2", "0.3", "0.45"])
            sales = _money(r, 2, 1200)
            profit = round(sales * r.uniform(-0.4, 0.45), 2)
            lines.append({
                "order_id": oid, "order_date": od, "ship_date": ship,
                "ship_mode": mode, "customer_id": cid, "product_id": pid,
                "geo": geo, "sales": f"{sales:.2f}", "quantity": qty,
                "discount": disc, "profit": f"{profit:.2f}"})
    return lines


def _stg_row(world, ln):
    cust = world.customers[ln["customer_id"]]
    prod = world.products[ln["product_id"]]
    country, city, state, postal, region = ln["geo"]
    return {"order_id": ln["order_id"],
            "order_date": ln["order_date"].isoformat(),
            "ship_date": ln["ship_date"].isoformat(),
            "ship_mode": ln["ship_mode"], "customer_id": ln["customer_id"],
            "customer_name": cust["name"], "segment": cust["segment"],
            "country": country, "city": city, "state": state,
            "postal_code": postal, "region": region,
            "product_id": ln["product_id"], "category": prod["cat"],
            "sub_category": prod["sub"], "product_name": prod["name"],
            "sales": ln["sales"], "quantity": str(ln["quantity"]),
            "discount": ln["discount"], "profit": ln["profit"]}


def _write_extract(path, r, world, lines, dup_keys):
    """Render staging rows as the quirky CSV; returns quirk counts."""
    out = io.StringIO()
    out.write(HEADER + ";\r\n")
    row_id = 0
    n_wrapped = 0
    emitted = []
    for ln in lines:
        emitted.append(ln)
        if (ln["order_id"], ln["product_id"]) in dup_keys:
            emitted.append(ln)
    for ln in emitted:
        row_id += 1
        s = _stg_row(world, ln)
        name = s["product_name"]
        fields = [str(row_id), s["order_id"], _fmt_date(ln["order_date"]),
                  _fmt_date(ln["ship_date"]), s["ship_mode"],
                  s["customer_id"], s["customer_name"], s["segment"],
                  s["country"], s["city"], s["state"], s["postal_code"],
                  s["region"], s["product_id"], s["category"],
                  s["sub_category"], name, s["sales"], s["quantity"],
                  s["discount"], s["profit"]]
        quoted = [f'"{f}"' if ("," in f or '"' in f) else f for f in fields]
        body = ",".join(quoted)
        if r.random() < WRAP_RATE:
            body = '"' + body.replace('"', '""') + '"'
            n_wrapped += 1
        out.write(body + ";\r\n")
    data = out.getvalue().encode("cp1252")
    with open(path, "wb") as f:
        f.write(data)
    from decimal import Decimal
    return {"lines": len(emitted), "wrapped": n_wrapped,
            "sum_sales": str(sum(Decimal(ln["sales"]) for ln in emitted)),
            "nbsp_bytes": data.count(b"\xa0"), "bytes": len(data),
            "dup_lines": len(emitted) - len(lines)}


def gen_superstore(out_dir, seed, mult=1.0):
    """The quirky extract, the clean staging rows it encodes (stg_0.csv,
    for DuckDB), and truth.json."""
    from decimal import Decimal
    os.makedirs(out_dir, exist_ok=True)
    r = random.Random(f"superstore-{seed}")
    world = _World(r, mult)
    lines = _order_lines(r, world, int(5009 * mult), dt.date(2014, 1, 3),
                         dt.date(2017, 12, 30))
    n_dups = max(1, round(len(lines) * DUP_RATE))
    dup_keys = {(ln["order_id"], ln["product_id"])
                for ln in r.sample(lines, n_dups)}
    q = _write_extract(os.path.join(out_dir, "extract_0.csv"), r, world,
                       lines, dup_keys)
    stg = [_stg_row(world, ln) for ln in lines]
    with open(os.path.join(out_dir, "stg_0.csv"), "w", newline="",
              encoding="utf-8") as f:
        w = csv.DictWriter(f, fieldnames=STG_COLS)
        w.writeheader()
        w.writerows(stg)
    # dims as StarSchema builds them: SCD2 snapshots are MAX per key
    customers = {s["customer_id"] for s in stg}
    products = {(s["product_id"], s["category"], s["sub_category"])
                for s in stg}
    days = [s["order_date"] for s in stg] + [s["ship_date"] for s in stg]
    sales = str(sum(Decimal(s["sales"]) for s in stg))
    quantity = sum(int(s["quantity"]) for s in stg)
    run = {
        "rows": len(stg), "mult": mult, "raw_rows": q["lines"],
        "raw_sum_sales": q["sum_sales"], "quoted_rows": q["wrapped"],
        "nbsp_bytes": q["nbsp_bytes"], "dup_lines": q["dup_lines"],
        "rows_after_dedup": len(stg), "sum_sales": sales,
        "sum_profit": str(sum(Decimal(s["profit"]) for s in stg)),
        "sum_quantity": quantity,
        "dim_rows": {
            "dim_date": (dt.date.fromisoformat(max(days)) -
                         dt.date.fromisoformat(min(days))).days + 1,
            "dim_geography": len({(s["country"], s["city"], s["state"],
                                   s["postal_code"], s["region"])
                                  for s in stg}),
            "dim_customer": len(customers), "dim_product": len(products)},
        "fact_rows": len(stg), "fact_sum_sales": sales,
        "fact_sum_quantity": quantity}
    truth = {"seed": seed, "ref_rows": REF_ROWS, "runs": [run],
             "input_bytes": q["bytes"]}
    with open(os.path.join(out_dir, "truth.json"), "w") as f:
        json.dump(truth, f, indent=1)
    return truth


# ---------------------------------------------------------------- corpus

def _shingles(text, n=3):
    toks = text.split()
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def jaccard_pairs(docs, threshold, n=3):
    """Exact word n-gram Jaccard >= threshold over all doc pairs sharing a
    shingle: {(a, b): (intersection, jaccard)} with a < b."""
    sh = {d: _shingles(t, n) for d, t in docs.items()}
    post = {}
    for d, s in sh.items():
        for x in s:
            post.setdefault(x, []).append(d)
    inter = {}
    for ds in post.values():
        ds.sort()
        for i in range(len(ds)):
            for j in range(i + 1, len(ds)):
                inter[(ds[i], ds[j])] = inter.get((ds[i], ds[j]), 0) + 1
    out = {}
    for (a, b), k in inter.items():
        jac = k / (len(sh[a]) + len(sh[b]) - k)
        if jac >= threshold:
            out[(a, b)] = (k, jac)
    return out


def components(ids, pairs):
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {i: find(i) for i in ids}


def gen_corpus(out_dir, seed):
    """Base corpus, eval set, arriving batches, embeddings, truth.json."""
    os.makedirs(out_dir, exist_ok=True)
    r = random.Random(f"corpus-{seed}")
    # uniform word draws: two unrelated documents share almost no 3-gram
    # and their 64-bit SimHashes differ in ~32 bits, so every near-duplicate
    # the operators find is a planted one
    vocab = [f"w{i}" for i in range(6000)]

    def fresh_text():
        return " ".join(r.choices(vocab, k=r.randint(50, 110)))

    def perturb(text, rate):
        # at least one token really changes: a near copy is never exact
        toks = text.split()
        hit = [i for i in range(len(toks)) if r.random() < rate] or \
            [r.randrange(len(toks))]
        for i in hit:
            toks[i] = r.choice([w for w in vocab[:50] if w != toks[i]])
        return " ".join(toks)

    def vec():
        return [r.gauss(0, 1) for _ in range(DIM)]

    docs, embs, role = {}, {}, {}
    exact_groups, near_groups = [], []
    next_id = 1
    # planted share of the base corpus: 8% exact copies, 12% near copies
    n_exact_src = int(N_BASE * 0.04)
    n_near_src = int(N_BASE * 0.06)
    while next_id <= N_BASE:
        left = N_BASE - next_id + 1
        kind = ("exact" if len(exact_groups) < n_exact_src else
                "near" if len(near_groups) < n_near_src else "unique")
        if kind == "unique" or left < 3:
            docs[next_id] = fresh_text()
            embs[next_id] = vec()
            role[next_id] = "unique"
            next_id += 1
            continue
        src = next_id
        docs[src] = fresh_text()
        embs[src] = vec()
        size = 2 if r.random() < 0.7 else 3
        group = [src]
        for k in range(1, size):
            d = src + k
            if kind == "exact":
                docs[d] = docs[src]
                embs[d] = list(embs[src])
            else:
                docs[d] = perturb(docs[src], r.choice([0.01, 0.03, 0.06]))
                embs[d] = [x + r.gauss(0, 0.01) for x in embs[src]]
            group.append(d)
        for d in group:
            role[d] = kind
        (exact_groups if kind == "exact" else near_groups).append(group)
        next_id += size
    ids = sorted(docs)
    # eval set: half copy long passages of some unique docs (contaminating
    # them), half fresh text
    uniques = [d for d in ids if role[d] == "unique"]
    contaminated = sorted(r.sample(uniques, 10))
    evals = []
    for i, d in enumerate(contaminated):
        toks = docs[d].split()
        evals.append({"eval_id": i + 1, "text": " ".join(toks)})
    for i in range(10):
        evals.append({"eval_id": 1000 + i, "text": fresh_text()})
    # arriving batches: fresh docs plus exact copies of base docs
    batches = []
    for b in range(N_BATCHES):
        rows = []
        for _ in range(BATCH_SIZE):
            if r.random() < 0.1:
                src = r.choice(ids)
                rows.append({"doc_id": next_id, "text": docs[src],
                             "emb": embs[src], "copy_of": src})
            else:
                rows.append({"doc_id": next_id, "text": fresh_text(),
                             "emb": vec(), "copy_of": None})
            next_id += 1
        batches.append(rows)

    with open(os.path.join(out_dir, "docs.jsonl"), "w") as f:
        for d in ids:
            f.write(json.dumps({"doc_id": d, "text": docs[d],
                                "emb": [round(x, 6) for x in embs[d]]}) + "\n")
    with open(os.path.join(out_dir, "eval.jsonl"), "w") as f:
        for e in evals:
            f.write(json.dumps(e) + "\n")
    for b, rows in enumerate(batches):
        with open(os.path.join(out_dir, f"batch_{b + 1}.jsonl"), "w") as f:
            for row in rows:
                f.write(json.dumps({
                    "doc_id": row["doc_id"], "text": row["text"],
                    "emb": [round(x, 6) for x in row["emb"]]}) + "\n")
    # IVF probes: the first member of every planted group
    queries = [g[0] for g in exact_groups + near_groups]
    with open(os.path.join(out_dir, "queries.txt"), "w") as f:
        f.write("".join(f"{q}\n" for q in queries))

    pairs = jaccard_pairs(docs, 0.5)
    comp = components(ids, pairs)
    truth = {
        "seed": seed, "n_docs": len(ids),
        "planted": {
            "exact_groups": exact_groups, "near_groups": near_groups,
            "exact_docs": sum(len(g) for g in exact_groups),
            "near_docs": sum(len(g) for g in near_groups),
            "share": sum(len(g) for g in exact_groups + near_groups)
            / len(ids)},
        "contaminated": contaminated,
        "queries": queries,
        "embeddings": {str(d): [round(x, 6) for x in embs[d]] for d in ids},
        "batch_sizes": [len(rows) for rows in batches],
        "exact": {"groups": len({docs[d] for d in ids}),
                  "dup_groups": len(exact_groups)},
        "jaccard_threshold": 0.5,
        "jaccard_pairs": [[a, b, k, j] for (a, b), (k, j) in
                          sorted(pairs.items())],
        "components": len(set(comp.values())),
        "batch_copies": [[[row["doc_id"], row["copy_of"]] for row in rows
                          if row["copy_of"] is not None] for rows in batches],
        "input_bytes": sum(os.path.getsize(os.path.join(out_dir, f))
                           for f in os.listdir(out_dir)),
    }
    with open(os.path.join(out_dir, "truth.json"), "w") as f:
        json.dump(truth, f)
    return truth

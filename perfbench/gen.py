"""Seeded input generators for the benchmark.

Two input sets, both a pure function of the seed:

* `write_tables` -- the star-schema tables the query registry reads
  (region nation customer supplier part orders lineitem events
  documents embeddings), with the column domains and shapes of the
  repository's test tables, at a chosen scale factor.
* `make_fleet` -- a vendor fleet for the sync pipeline: credentials,
  the admin catalog, one payload per vendor per sync, and for every
  sync the per-vendor summary counters the pipeline must report.
  The counters are derived from the names the generator planted
  (exact / substring-only / unmatched catalog names), never by
  running the engine.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------- tables

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PRIO = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_VOCAB = ("a agg batch big column customer data fast filter group hash join "
          "key line merge order part query row scan slow small sort spark "
          "stream table the value vector window").split()
_LANGS = ["en", "es", "de", "fr", "zh"]
_LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]

_DAY_US = 86_400_000_000


def _ts_us(base_days, days):
    """Timestamp array (microseconds, no zone) `days` after 1970+base."""
    return pa.array((np.asarray(days, dtype=np.int64) + base_days) * _DAY_US,
                    type=pa.timestamp("us"))


def _days_since_epoch(y, m, d):
    return int((np.datetime64(f"{y:04d}-{m:02d}-{d:02d}")
                - np.datetime64("1970-01-01")).astype(int))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def write_tables(out_dir, seed, sf, n_docs, n_vecs):
    """Write the ten tables as `<out_dir>/<name>.parquet`."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)

    def put(name, cols):
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))

    put("region", {"r_regionkey": pa.array(range(5), pa.int32()),
                   "r_name": _REGIONS})
    put("nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                   "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    n_cust = max(150, int(150_000 * sf))
    put("customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": [_SEGMENTS[i] for i in rng.integers(0, 5, n_cust)]})

    n_supp = max(10, int(10_000 * sf))
    put("supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})

    n_part = max(200, int(200_000 * sf))
    put("part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{_ADJ[a]} {_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [_PTYPES[i] for i in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)})

    n_ord = max(1500, int(1_500_000 * sf))
    d95 = _days_since_epoch(1995, 1, 1)
    put("orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _ts_us(d95, rng.integers(0, 2404, n_ord)),
        "o_orderpriority": [_PRIO[i] for i in rng.integers(0, 5, n_ord)]})

    n_li = 4 * n_ord
    put("lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_li)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_li)],
        "l_shipdate": _ts_us(d95 + 1, rng.integers(0, 2498, n_li))})

    n_ev = max(1000, int(1_000_000 * sf))
    n_users = max(15, int(15_000 * sf))
    start_us = _days_since_epoch(2024, 1, 1) * _DAY_US
    ts = start_us + np.sort(rng.integers(0, 30 * _DAY_US, n_ev))
    put("events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": [_EVENT_TYPES[i] for i in rng.integers(0, 5, n_ev)],
        "value": _money(rng, 0.01, 500.0, n_ev),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})

    # documents: random-vocabulary text; ~5% are near-duplicates of an
    # earlier document with a trailing " dup" token
    texts = []
    for i in range(n_docs):
        if i > 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n = int(rng.integers(10, 100))
            texts.append(" ".join(_VOCAB[j] for j in rng.integers(0, len(_VOCAB), n)))
    put("documents", {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": [_LANGS[i] for i in rng.choice(5, n_docs, p=_LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})

    # embeddings: unit vectors loosely clustered around 10 label centroids
    dim = 64
    cents = rng.standard_normal((10, dim))
    cents /= np.linalg.norm(cents, axis=1, keepdims=True)
    labels = rng.integers(0, 10, n_vecs)
    x = cents[labels] + rng.standard_normal((n_vecs, dim)) * 0.8
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    put("embeddings", {
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array([row.astype(np.float32) for row in x],
                              type=pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})


# ----------------------------------------------------------------- fleet

_MFRS = ["Apple", "Samsung", "Google", "Motorola", "Nokia", "Sony", "Oppo", "Xiaomi"]
_SERIES = ["Astra", "Nova", "Pixelon", "Vega", "Orion", "Lumen", "Zenith", "Aero"]
_STORAGES = ["64GB 4GB RAM", "128GB 6GB RAM", "256GB 8GB RAM", "512GB 12GB RAM"]
_CAPS = ["64GB", "128 GB", "256GB", "512GB", None]
_COLORS = ["Black", "White", "Blue", "Red", None]
_GRADES = ["A", "B", "C", None]
_STATUSES = ["Available", "Available", "Available", "Sold", "Pending"]


def _product_name(manufacturer, model):
    """The pipeline's P1 product name: join, collapse whitespace, trim."""
    return " ".join(" ".join([manufacturer or "", model or ""]).split())


def make_fleet(seed, n_vendors, n_items, n_syncs, churn=0.10):
    """Return (credentials, catalog, payloads, expected).

    payloads[s][vendorId] is the JSON body vendor `vendorId` serves at
    sync s, or None when its fetch fails on that sync. expected[s] maps
    every vendorId to its summary: status plus the six counters.
    """
    rng = np.random.default_rng([seed, 2])

    # admin catalog: one unique fixed-width code per product, so a
    # substring probe that carries the code can only hit that product
    n_admin = 4 * n_vendors + 40
    codes = rng.permutation(9000)[: 2 * n_admin] + 1000
    catalog, products = [], []
    for i in range(n_admin):
        mfr = _MFRS[int(rng.integers(0, len(_MFRS)))]
        series = _SERIES[int(rng.integers(0, len(_SERIES)))]
        name = f"{mfr} {series} K{codes[i]} Plus"
        aid = f"adm-{i:05d}"
        specs = ", ".join(sorted(set(_STORAGES[j] for j in rng.integers(0, 4, 2))))
        catalog.append({"_id": aid, "name": name, "storage": specs})
        kind = ("exact", "exact", "substring", "none")[i % 4]
        if kind == "exact":
            # case-insensitive exact: some vendors shout the name
            if rng.random() < 0.3:
                products.append((mfr.upper(), f"{series} K{codes[i]} PLUS", aid, kind))
            else:
                products.append((mfr, f"{series} K{codes[i]} Plus", aid, kind))
        elif kind == "substring":
            products.append((None, f"{series} K{codes[i]}", aid, kind))
        else:
            # a code no catalog entry carries: matches nothing
            products.append((mfr, f"{series} Z{codes[n_admin + i]}", None, kind))

    # vendors: skewed sizes (Zipf-like weights), a few special cases
    weights = 1.0 / np.arange(1, n_vendors + 1) ** 0.9
    weights = rng.permutation(weights / weights.sum())
    sizes = np.maximum(5, np.round(weights * n_items)).astype(int)
    creds, vendors = [], []
    for v in range(n_vendors):
        vid = f"v-{v:03d}"
        if v % 11 == 3:
            db = "shopify"          # unsupported backend
        elif v % 7 == 2:
            db = None               # backfilled to wholecell
        else:
            db = "wholecell"
        creds.append({"_id": f"cred-{v:03d}", "vendorId": vid,
                      "appId": f"app{v}", "appSecret": f"secret{v}",
                      "database": db})
        # each vendor carries a subset of the catalog's product names
        pick = rng.choice(len(products), size=min(len(products), 6 + sizes[v] // 40),
                          replace=False)
        vendors.append({"id": vid, "db": db, "size": int(sizes[v]),
                        "products": [products[i] for i in pick],
                        "flaky": v % 13 == 5})

    next_id = [1]

    def new_item(vend):
        p = vend["products"][int(rng.integers(0, len(vend["products"])))]
        iid = next_id[0]
        next_id[0] += 1
        serial_kind = int(rng.integers(0, 4))
        return {
            "id": iid,
            "status": _STATUSES[int(rng.integers(0, len(_STATUSES)))],
            "esn": f"ESN{iid:08d}" if serial_kind == 0 else None,
            "hex_id": f"{iid:010x}" if serial_kind == 1 else None,
            "total_price_paid": int(rng.integers(5_000, 150_000)),
            "product_variation": {
                "sku": f"SKU-{iid}" if serial_kind == 2 else None,
                "grade": _GRADES[int(rng.integers(0, len(_GRADES)))],
                "product": {"manufacturer": p[0], "model": p[1],
                            "color": _COLORS[int(rng.integers(0, len(_COLORS)))],
                            "capacity": _CAPS[int(rng.integers(0, len(_CAPS)))]}},
            "_plant": (p[2], p[3]),
        }

    items = {v["id"]: [new_item(v) for _ in range(v["size"])] for v in vendors}
    sink = {}  # (vendorId, admin_id) -> accumulated stock
    payloads, expected = [], []
    for s in range(n_syncs):
        if s > 0:
            for v in vendors:
                its = items[v["id"]]
                for j in rng.choice(len(its), size=max(1, int(churn * len(its))),
                                    replace=False):
                    its[j] = new_item(v)
        pay, exp = {}, {}
        for v in vendors:
            vid = v["id"]
            fails = v["flaky"] and s % 3 == 1
            if v["db"] not in (None, "wholecell"):
                pay[vid] = None
                exp[vid] = {"status": "unsupported_database"}
                continue
            if fails:
                pay[vid] = None
                exp[vid] = {"status": "fetch_failed"}
                continue
            its = items[vid]
            body = [{k: val for k, val in it.items() if k != "_plant"} for it in its]
            pay[vid] = json.dumps({"data": body}, separators=(",", ":"))
            groups = {}
            incoming = {}
            for it in its:
                if it["status"] != "Available":
                    continue
                pv = it["product_variation"]
                name = _product_name(pv["product"]["manufacturer"], pv["product"]["model"])
                aid, kind = it["_plant"]
                groups[(name, pv["grade"] or "Unknown")] = kind
                if aid is not None:
                    incoming[aid] = incoming.get(aid, 0) + 1
            inserted = sum(1 for a in incoming if (vid, a) not in sink)
            stock = 0
            for a, n in incoming.items():
                sink[(vid, a)] = sink.get((vid, a), 0) + n
                stock += sink[(vid, a)]
            exp[vid] = {
                "status": "ok",
                "fetched": len(its),
                "valid": sum(1 for k in groups.values() if k != "none"),
                "skipped": sum(1 for k in groups.values() if k == "none"),
                "inserted": inserted,
                "updated": len(incoming) - inserted,
                "stock": stock,
            }
        payloads.append(pay)
        expected.append(exp)
    return creds, catalog, payloads, expected


def write_fleet(out_dir, seed, n_vendors, n_items, n_syncs):
    """Write the fleet for the JVM and return the expected summaries.

    Layout: creds.json (JSON lines), catalog.parquet, and
    payloads/<sync>/<vendorId>.json for every vendor that answers.
    """
    creds, catalog, payloads, expected = make_fleet(seed, n_vendors, n_items, n_syncs)
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, "creds.json"), "w") as f:
        for c in creds:
            f.write(json.dumps(c) + "\n")
    storage = pa.struct([("storage", pa.string())])
    pq.write_table(pa.table({
        "_id": [c["_id"] for c in catalog],
        "name": [c["name"] for c in catalog],
        "specifications": pa.array([{"storage": c["storage"]} for c in catalog], storage),
    }), os.path.join(out_dir, "catalog.parquet"))
    for s, pay in enumerate(payloads):
        d = os.path.join(out_dir, "payloads", str(s))
        os.makedirs(d, exist_ok=True)
        for vid, body in pay.items():
            if body is not None:
                with open(os.path.join(d, vid + ".json"), "w") as f:
                    f.write(body)
    return expected

#!/usr/bin/env python3
"""Seeded input generator for the benchmark.

Two input families, both a pure function of the seed:

* ``walmart``: the reference's master CSVs (customers, products with their
  stores and suppliers) and transaction CSV files with a Zipf-skewed
  ``Customer_ID`` and a fixed share of each malformed kind.  Writes
  ``tx.expected.json`` and ``live.expected.json`` with the exact row, drop
  and default counts the ETL must report.
* ``star``: the TPC-H-shaped star (region .. lineitem) plus ``events``,
  ``documents`` and ``embeddings`` parquet tables that the OLAP and
  pipeline queries read, at a given scale factor.

Usage:
  gen.py walmart OUT_DIR --seed N --files F --rows R --live-files L --live-rows LR
  gen.py star OUT_DIR --seed N --sf SF
"""
import argparse
import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_CUSTOMERS = 5891
N_PRODUCTS = 3631
STORES = [(1, "Electro Mart"), (2, "Tech Haven"), (3, "Sound Zone"),
          (4, "Game Zone"), (5, "InnoTech"), (6, "Photo World"),
          (7, "Health Zone"), (51, "Pakistan")]
SUPPLIERS = [(9, "Canon Inc."), (13, "Samsung Electronics"),
             (16, "Sony Corporation"), (17, "Garmin Ltd."),
             (18, "Razer Inc."), (39, "Sonos Inc."), (51, "Pakistan")]
CATEGORIES = [
    "Appliances", "Arts, Crafts & Sewing", "Automotive", "Baby",
    "Books, Movies & Music", "Clothing", "Electronics", "Furniture",
    "Grocery", "Health & Beauty", "Home & Kitchen", "Household Essentials",
    "Jewelry & Accessories", "Office & School Supplies", "Patio & Garden",
    "Pets", "Pharmacy & OTC", "Shoes", "Sports & Outdoors", "Toys"]
AGES = ["0-17", "18-25", "26-35", "36-45", "46-50", "51-55", "55+"]

# Share of transaction rows of each malformed kind. Every kind is a
# separate row; the rest are clean rows in the primary date format.
MALFORMED = {
    "unknown_customer": 0.02,   # numeric key absent from the master: inner-join drop
    "bad_key": 0.01,            # non-numeric Customer_ID: try_cast drop
    "missing_field": 0.01,      # empty quantity/date/product: required-field drop
    "bad_quantity": 0.01,       # non-numeric quantity: coerced to 0, kept
    "date_dmy": 0.03,           # dd-MM-yyyy
    "date_mdy": 0.03,           # MM/dd/yyyy
    "date_ymd_slash": 0.03,     # yyyy/MM/dd
    "garbage_date": 0.005,      # no format parses: falls back to current_date()
    "unknown_product": 0.02,    # product absent from the master: default fill
}
CUSTOMER_ZIPF = 1.2


def write_csv(path, header, rows):
    with open(path, "w") as f:
        f.write(",".join(header) + "\n")
        for r in rows:
            f.write(",".join(r) + "\n")


def quote(s):
    return '"' + s.replace('"', '""') + '"'


def walmart(out, seed, files, rows, live_files, live_rows):
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out, exist_ok=True)
    cust_ids = 1000001 + np.arange(N_CUSTOMERS)
    g = rng.choice(["M", "F"], N_CUSTOMERS, p=[0.717, 0.283])
    a = rng.choice(AGES, N_CUSTOMERS)
    occ = rng.integers(0, 21, N_CUSTOMERS)
    city = rng.choice(["A", "B", "C"], N_CUSTOMERS)
    stay = rng.integers(0, 5, N_CUSTOMERS)
    mar = rng.integers(0, 2, N_CUSTOMERS)
    write_csv(f"{out}/customer_master_data.csv",
              ["", "Customer_ID", "Gender", "Age", "Occupation",
               "City_Category", "Stay_In_Current_City_Years", "Marital_Status"],
              ([str(i), str(cust_ids[i]), g[i], a[i], str(occ[i]), city[i],
                str(stay[i]), str(mar[i])] for i in range(N_CUSTOMERS)))
    prod_ids = np.array([f"P{n:08d}" for n in
                         rng.choice(np.arange(10000, 99999999), N_PRODUCTS,
                                    replace=False)])
    cat = rng.integers(0, len(CATEGORIES), N_PRODUCTS)
    price = rng.integers(202, 7996, N_PRODUCTS)
    st = rng.integers(0, len(STORES), N_PRODUCTS)
    sp = rng.integers(0, len(SUPPLIERS), N_PRODUCTS)
    write_csv(f"{out}/product_master_data.csv",
              ["", "Product_ID", "Product_Category", "price$", "storeID",
               "supplierID", "storeName", "supplierName"],
              ([str(i), prod_ids[i], quote(CATEGORIES[cat[i]]),
                f"{price[i] // 100}.{price[i] % 100:02d}",
                str(STORES[st[i]][0]), str(SUPPLIERS[sp[i]][0]),
                quote(STORES[st[i]][1]), quote(SUPPLIERS[sp[i]][1])]
               for i in range(N_PRODUCTS)))

    tx_set(f"{out}/tx", rng, cust_ids, prod_ids, files, rows)
    tx_set(f"{out}/live", rng, cust_ids, prod_ids, live_files, live_rows)


def tx_set(tx_dir, rng, cust_ids, prod_ids, files, rows):
    """Transaction CSVs under TX_DIR and their expected counts in
    TX_DIR.expected.json."""
    n = files * rows
    kinds = list(MALFORMED)
    counts = {k: int(round(MALFORMED[k] * n)) for k in kinds}
    kind = np.full(n, "clean", dtype=object)
    pos = rng.permutation(n)
    at = 0
    for k in kinds:
        kind[pos[at:at + counts[k]]] = k
        at += counts[k]
    # Zipf-skewed customer rank -> customer id (rank 1 is the hottest)
    ranks = rng.zipf(CUSTOMER_ZIPF, n * 2)
    ranks = ranks[ranks <= N_CUSTOMERS][:n]
    while len(ranks) < n:
        more = rng.zipf(CUSTOMER_ZIPF, n)
        ranks = np.concatenate([ranks, more[more <= N_CUSTOMERS]])[:n]
    hot = rng.permutation(N_CUSTOMERS)
    cust = cust_ids[hot[ranks - 1]].astype(str).astype(object)
    prod = prod_ids[rng.integers(0, N_PRODUCTS, n)].astype(object)
    qty = rng.integers(1, 10, n).astype(str).astype(object)
    day0 = dt.date(2017, 1, 1).toordinal()
    days = rng.integers(0, dt.date(2020, 12, 31).toordinal() - day0 + 1, n)
    dates = [dt.date.fromordinal(day0 + int(d)) for d in days]
    date_s = np.array([d.isoformat() for d in dates], dtype=object)
    order_id = 1 + np.arange(n) // 3   # orders hold several products
    for i in np.nonzero(kind != "clean")[0]:
        k, d = kind[i], dates[i]
        if k == "unknown_customer":
            cust[i] = str(2000001 + int(rng.integers(0, 100000)))
        elif k == "bad_key":
            cust[i] = f"C{cust[i]}x"
        elif k == "missing_field":
            col = int(rng.integers(0, 3))
            if col == 0:
                prod[i] = ""
            elif col == 1:
                qty[i] = ""
            else:
                date_s[i] = ""
        elif k == "bad_quantity":
            qty[i] = "n/a"
        elif k == "date_dmy":
            date_s[i] = d.strftime("%d-%m-%Y")
        elif k == "date_mdy":
            date_s[i] = d.strftime("%m/%d/%Y")
        elif k == "date_ymd_slash":
            date_s[i] = d.strftime("%Y/%m/%d")
        elif k == "garbage_date":
            date_s[i] = "not-a-date"
        elif k == "unknown_product":
            prod[i] = f"Q{int(rng.integers(0, 10**8)):08d}"
    os.makedirs(tx_dir, exist_ok=True)
    for f in range(files):
        lo, hi = f * rows, (f + 1) * rows
        write_csv(f"{tx_dir}/tx-{f:05d}.csv",
                  ["orderID", "Customer_ID", "Product_ID", "quantity", "date"],
                  ([str(order_id[i]), cust[i], prod[i], qty[i], date_s[i]]
                   for i in range(lo, hi)))
    expected = {
        "files": files, "rows_per_file": rows, "rows_in": n,
        "drop_invalid": counts["bad_key"] + counts["missing_field"],
        "drop_customer": counts["unknown_customer"],
        "product_default": counts["unknown_product"],
        "fact_rows": n - counts["bad_key"] - counts["missing_field"]
        - counts["unknown_customer"],
    }
    with open(f"{tx_dir}.expected.json", "w") as f:
        json.dump(expected, f)


WORDS = ("join hash row batch scan customer column filter small slow merge "
         "order vector line table data agg value key stream window spark a "
         "group part big sort query fast the").split()


def star(out, seed, sf):
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out, exist_ok=True)

    def save(name, cols):
        pq.write_table(pa.table(cols), f"{out}/{name}.parquet")

    def cents(lo, hi, k):
        return np.round(rng.integers(int(lo * 100), int(hi * 100) + 1, k) / 100, 2)

    def days(start, end, k):
        a = np.datetime64(start, "D")
        span = (np.datetime64(end, "D") - a).astype(int) + 1
        return (a + rng.integers(0, span, k)).astype("datetime64[us]")

    n_c, n_s, n_p = int(150000 * sf), int(10000 * sf), int(200000 * sf)
    n_o, n_l = int(1500000 * sf), int(6000000 * sf)
    n_e, n_d, n_v = int(1000000 * sf), int(50000 * sf), int(200000 * sf)
    save("region", {"r_regionkey": pa.array(range(5), pa.int32()),
                    "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    save("nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                    "n_name": [f"NATION_{i}" for i in range(25)],
                    "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    save("customer", {
        "c_custkey": np.arange(n_c, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_c)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_c), pa.int32()),
        "c_acctbal": cents(-999.99, 9999.99, n_c),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], n_c)})
    save("supplier", {
        "s_suppkey": np.arange(n_s, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_s)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_s), pa.int32()),
        "s_acctbal": cents(-999.99, 9999.99, n_s)})
    adj = ["blue", "hot", "small", "old", "cold", "red", "new", "large"]
    noun = ["bolt", "gear", "anvil", "widget", "rod", "plate", "ring", "gizmo"]
    save("part", {
        "p_partkey": np.arange(n_p, dtype=np.int64),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                   zip(rng.integers(0, 8, n_p), rng.integers(0, 8, n_p))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_p)],
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                              "STANDARD"], n_p),
        "p_size": pa.array(rng.integers(1, 51, n_p), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_p) % 1000) / 10, 2)})
    save("orders", {
        "o_orderkey": np.arange(n_o, dtype=np.int64),
        "o_custkey": rng.integers(0, n_c, n_o),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_o),
        "o_totalprice": cents(1000, 500000, n_o),
        "o_orderdate": days("1995-01-01", "2001-08-01", n_o),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n_o)})
    save("lineitem", {
        "l_orderkey": rng.integers(0, n_o, n_l),
        "l_partkey": rng.integers(0, n_p, n_l),
        "l_suppkey": rng.integers(0, n_s, n_l),
        "l_linenumber": pa.array(rng.integers(1, 8, n_l), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_l).astype(np.float64),
        "l_extendedprice": cents(900, 105000, n_l),
        "l_discount": rng.integers(0, 11, n_l) / 100,
        "l_tax": rng.integers(0, 9, n_l) / 100,
        "l_returnflag": rng.choice(["A", "N", "R"], n_l),
        "l_linestatus": rng.choice(["F", "O"], n_l),
        "l_shipdate": days("1995-01-01", "2001-12-31", n_l)})
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    ts = np.sort(t0 + rng.integers(0, 30 * 86400 * 10**6, n_e).astype("timedelta64[us]"))
    save("events", {
        "event_id": np.arange(n_e, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, max(n_c // 10, 1), n_e),
        "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], n_e),
        "value": cents(0, 200, n_e) * rng.integers(1, 3, n_e),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_e)]})
    texts = []
    for i in range(n_d):
        if i > 10 and rng.random() < 0.005:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(8, 100)))))
    save("documents", {
        "doc_id": np.arange(n_d, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["en", "de", "es", "fr", "zh"], n_d,
                           p=[0.41, 0.14, 0.15, 0.15, 0.15]),
        "source": [f"src{i % 20}" for i in range(n_d)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    labels = rng.integers(0, 10, n_v)
    centers = rng.normal(0, 1, (10, 64))
    vec = centers[labels] + rng.normal(0, 0.8, (n_v, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    save("embeddings", {
        "vec_id": np.arange(n_v, dtype=np.int64),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})


def main():
    p = argparse.ArgumentParser()
    p.add_argument("family", choices=["walmart", "star"])
    p.add_argument("out")
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--files", type=int, default=100)
    p.add_argument("--rows", type=int, default=1000)
    p.add_argument("--live-files", type=int, default=0)
    p.add_argument("--live-rows", type=int, default=1000)
    p.add_argument("--sf", type=float, default=0.01)
    a = p.parse_args()
    if a.family == "walmart":
        walmart(a.out, a.seed, a.files, a.rows, a.live_files, a.live_rows)
    else:
        star(a.out, a.seed, a.sf)


if __name__ == "__main__":
    main()

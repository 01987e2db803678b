"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed: the same seed writes the
same bytes, a different seed writes different inputs. The engine under test
only ever sees the files written here.

- ``dirty_batches``: daily batches of dirty staging CSVs for the six
  amazon-fresh entities, covering every dirty-data case the reference
  pipeline handles, in the customers 1:N orders 1:N order_details N:1
  products N:1 suppliers shape, for ``fresh_etl``.
- ``corpus``: a document/vector stream with strictly increasing doc_id,
  planted near- and exact duplicates and one distribution drift, for
  ``corpus_stream``.
"""
import csv
import datetime as dt
import hashlib
import os
import uuid

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Vocabulary of the documents table the engine's gates were calibrated on;
# "dup" marks planted near-duplicates there too.
VOCAB = ["spark", "window", "merge", "table", "column", "vector", "stream",
         "value", "data", "small", "join", "filter", "big", "group", "hash",
         "customer", "sort", "order", "slow", "line", "part", "fast", "row",
         "the", "agg", "key", "query", "a", "scan", "batch"]
DIM = 64
N_CENTROIDS = 10


def rng(seed, *stream):
    """Independent, reproducible generator per (seed, stream name...)."""
    key = hashlib.sha256(repr((seed,) + stream).encode()).digest()
    return np.random.Generator(np.random.PCG64(int.from_bytes(key[:16], "little")))


def write_parquet(path, columns, schema):
    table = pa.table(columns, schema=schema)
    pq.write_table(table, path, compression="snappy")


# --------------------------------------------------------- dirty batches

STAGING = {
    "suppliers": ["supplierid", "suppliername", "contactperson", "phone", "city", "state"],
    "products": ["productid", "productname", "category", "subcategory", "priceperunit",
                 "stockquantity", "supplierid"],
    "customers": ["customerid", "name", "age", "gender", "city", "state", "country",
                  "signupdate", "primemember"],
    "orders": ["orderid", "customerid", "orderdate", "shipdate", "shipmode", "totalamount"],
    "order_details": ["orderdetailid", "orderid", "productid", "quantity", "unitprice", "discount"],
    "reviews": ["reviewid", "productid", "customerid", "rating", "reviewtext"],
}
ENTITY_ORDER = list(STAGING)
CITIES = [("Springfield", "IL"), ("Portland", "OR"), ("Austin", "TX"), ("Adamville", "NY"),
          ("Denver", "CO"), ("Madison", "WI"), ("Salem", "MA"), ("Dayton", "OH")]
CATEGORIES = [("Fruits", "Citrus"), ("Fruits", "Berries"), ("Dairy", "Milk"), ("Dairy", "Cheese"),
              ("Bakery", "Bread"), ("Beverages", "Juice"), ("Snacks", "Chips"), ("Meat", "Poultry")]
BOOLS = ["Yes", "y", "TRUE", "1", "No", "n", "false", "0", "", "maybe"]
SHIPMODES = ["AIR", "GROUND", "EXPRESS", "RAIL"]

# Dirty-data cases (FIXTURES.md section 3); `dirty_batches` returns how
# often each one was planted so the spec can assert that every case appears.
CASES = ["invalid_uuid_pk", "invalid_uuid_fk", "padded_uppercase_uuid", "orphan_fk",
         "date_wrong_format", "date_valid_mdy", "boolean_vocabulary", "blank_values",
         "padded_text", "duplicate_pk", "duplicate_natural_key", "check_violation",
         "case_variant_category", "blank_category"]


class _Dirt:
    def __init__(self, r):
        self.r = r
        self.count = {c: 0 for c in CASES}

    def hit(self, case, p):
        if self.r.random() < p:
            self.count[case] += 1
            return True
        return False


def _uuid(r):
    return str(uuid.UUID(bytes=r.bytes(16), version=4))


def _date_mdy(r, year0, span_days):
    d = dt.date(year0, 1, 1) + dt.timedelta(days=int(r.integers(0, span_days)))
    return d, f"{d.month}/{d.day}/{d.year}"


def _date_cell(r, dirt, year0=2023):
    d, mdy = _date_mdy(r, year0, 700)
    if dirt.hit("date_wrong_format", 0.07):
        return d.isoformat() if r.random() < 0.5 else d.strftime("%b %d %Y")
    if dirt.hit("blank_values", 0.03):
        return ""
    dirt.count["date_valid_mdy"] += 1
    return mdy


def _pad(dirt, text, p=0.1):
    return f"  {text} " if dirt.hit("padded_text", p) else text


def _key_cell(dirt, key):
    """A PK cell: mostly canonical, sometimes padded/uppercase, sometimes invalid."""
    if dirt.hit("padded_uppercase_uuid", 0.05):
        return f" {key.upper()}  "
    return key


def dirty_batches(out_dir, seed, n_batches, rows=120):
    """Write ``n_batches`` daily staging batches as out_dir/b{n}/{entity}.csv.

    Each batch adds new entities and re-delivers updated versions of some
    existing suppliers/products/customers (upsert entities); fact rows
    (orders/order_details/reviews) reference parents from the same or an
    earlier batch, except planted orphans whose parent never exists.
    Returns the per-case plant counts and per-entity staged row counts.
    """
    r = rng(seed, "dirty")
    dirt = _Dirt(r)
    sup, prod, cust, ords = [], [], [], []   # live keys, in arrival order
    sup_rows, prod_rows, cust_rows = {}, {}, {}
    staged = []
    pk_serial = [0]

    def new_key():
        pk_serial[0] += 1
        return _uuid(r)

    def bad_pk():
        pk_serial[0] += 1
        return "not-a-uuid" if r.random() < 0.5 else str(10000 + pk_serial[0])

    for b in range(n_batches):
        out = {e: [] for e in ENTITY_ORDER}
        # only parents from earlier batches get updated versions: a batch
        # never carries two different rows for one key
        n_sup, n_prod, n_cust = len(sup), len(prod), len(cust)

        def emit(entity, row):
            out[entity].append(row)
            if dirt.hit("duplicate_pk", 0.03):
                # a re-delivered copy of the row: identical once trimmed
                out[entity].append([f" {c} " if isinstance(c, str) and c and i > 0 else c
                                    for i, c in enumerate(row)])

        # suppliers: new + updates of existing ones
        for _ in range(rows // 6):
            if dirt.hit("invalid_uuid_pk", 0.04):
                key = bad_pk()
            else:
                key = new_key()
                sup.append(key)
            city, state = CITIES[r.integers(0, len(CITIES))]
            row = [key, _pad(dirt, f"Supplier {pk_serial[0]}"), f"Contact {pk_serial[0]}",
                   "" if dirt.hit("blank_values", 0.05) else f"555-{r.integers(1000, 9999)}",
                   city, state]
            sup_rows[key] = row
            emit("suppliers", [_key_cell(dirt, key)] + row[1:])
        for key in _sample(r, sup[:n_sup], rows // 24):
            row = list(sup_rows[key])
            row[3] = f"555-{r.integers(1000, 9999)}"
            sup_rows[key] = row
            out["suppliers"].append(row)

        # products (supplier FK: live supplier, NULL, or orphan)
        for _ in range(rows // 2):
            if dirt.hit("invalid_uuid_pk", 0.04):
                key = bad_pk()
            else:
                key = new_key()
                prod.append(key)
            cat, sub = CATEGORIES[r.integers(0, len(CATEGORIES))]
            if dirt.hit("case_variant_category", 0.1):
                cat = cat.lower() if r.random() < 0.5 else f" {cat.upper()} "
            if dirt.hit("blank_category", 0.05):
                sub = ""
            if dirt.hit("blank_category", 0.03):
                cat = ""
            if dirt.hit("orphan_fk", 0.03):
                sid = _uuid(r)
            elif dirt.hit("blank_values", 0.04):
                sid = ""
            else:
                sid = sup[r.integers(0, len(sup))]
            row = [key, _pad(dirt, f"Product {pk_serial[0]}"), cat, sub,
                   "" if dirt.hit("blank_values", 0.04) else f"{r.integers(50, 5000) / 100:.2f}",
                   str(r.integers(0, 500)), sid]
            prod_rows[key] = row
            emit("products", [_key_cell(dirt, key)] + row[1:])
        for key in _sample(r, prod[:n_prod], rows // 12):
            row = list(prod_rows[key])
            row[4] = f"{r.integers(50, 5000) / 100:.2f}"
            prod_rows[key] = row
            out["products"].append(row)

        # customers (duplicate natural key, underage / blank ages, dates, bools)
        for i in range(rows // 2):
            if dirt.hit("invalid_uuid_pk", 0.04):
                key = bad_pk()
            else:
                key = new_key()
                cust.append(key)
            name = "John Smith" if dirt.hit("duplicate_natural_key", 0.04) else f"Customer {pk_serial[0]}"
            if dirt.hit("check_violation", 0.06):
                age = str(r.integers(15, 19))
            elif dirt.hit("blank_values", 0.04):
                age = ""
            else:
                age = str(r.integers(19, 80))
            city, state = CITIES[r.integers(0, len(CITIES))]
            prime = BOOLS[r.integers(0, len(BOOLS))]
            dirt.count["boolean_vocabulary"] += 1
            row = [key, _pad(dirt, name), age, "F" if r.random() < 0.5 else "M",
                   _pad(dirt, city), state, "USA", _date_cell(r, dirt), prime]
            cust_rows[key] = row
            emit("customers", [_key_cell(dirt, key)] + row[1:])
        for key in _sample(r, cust[:n_cust], rows // 12):
            row = list(cust_rows[key])
            row[4], row[5] = CITIES[r.integers(0, len(CITIES))]
            cust_rows[key] = row
            out["customers"].append(row)

        # orders (customer FK: live, orphan, or invalid uuid)
        batch_orders = []
        for _ in range(rows):
            if dirt.hit("invalid_uuid_pk", 0.04):
                key = bad_pk()
            else:
                key = new_key()
                batch_orders.append(key)
            if dirt.hit("orphan_fk", 0.03):
                cid = _uuid(r)
            elif dirt.hit("invalid_uuid_fk", 0.03):
                cid = "bad-customer"
            else:
                cid = cust[r.integers(0, len(cust))]
            d, mdy = _date_mdy(r, 2024, 300)
            ship = d + dt.timedelta(days=int(r.integers(1, 8)))
            emit("orders", [_key_cell(dirt, key), cid,
                            d.isoformat() if dirt.hit("date_wrong_format", 0.05) else mdy,
                            "" if dirt.hit("blank_values", 0.05) else f"{ship.month}/{ship.day}/{ship.year}",
                            SHIPMODES[r.integers(0, len(SHIPMODES))],
                            "" if dirt.hit("blank_values", 0.03)
                            else _pad(dirt, f"{r.integers(500, 900000) / 100:.2f}")])
        ords.extend(batch_orders)

        # order_details (order FK from this batch or earlier; product FK)
        for _ in range(rows * 2):
            key = bad_pk() if dirt.hit("invalid_uuid_pk", 0.04) else new_key()
            if dirt.hit("invalid_uuid_fk", 0.03):
                oid = "12345"
            elif dirt.hit("orphan_fk", 0.02):
                oid = _uuid(r)
            else:
                oid = ords[r.integers(max(0, len(ords) - 3 * rows), len(ords))]
            pid = "not-a-uuid" if dirt.hit("invalid_uuid_fk", 0.02) else prod[r.integers(0, len(prod))]
            emit("order_details", [_key_cell(dirt, key), oid, pid, str(r.integers(1, 20)),
                                   f"{r.integers(50, 5000) / 100:.2f}",
                                   "" if dirt.hit("blank_values", 0.05) else f"{r.integers(0, 30) / 100:.2f}"])

        # reviews (NULL customer allowed; out-of-range ratings)
        for _ in range(rows // 2):
            key = bad_pk() if dirt.hit("invalid_uuid_pk", 0.04) else new_key()
            pid = _uuid(r) if dirt.hit("orphan_fk", 0.03) else prod[r.integers(0, len(prod))]
            cid = "" if r.random() < 0.1 else cust[r.integers(0, len(cust))]
            rating = str(r.choice([0, 6, 7])) if dirt.hit("check_violation", 0.06) else str(r.integers(1, 6))
            emit("reviews", [_key_cell(dirt, key), pid, cid, rating,
                             _pad(dirt, " ".join(VOCAB[j] for j in r.integers(0, len(VOCAB), 8)))])

        bdir = f"{out_dir}/b{b}"
        os.makedirs(bdir, exist_ok=True)
        counts = {}
        for e in ENTITY_ORDER:
            with open(f"{bdir}/{e}.csv", "w", newline="") as f:
                w = csv.writer(f, lineterminator="\n")
                w.writerow(STAGING[e] + ["batch_no"])
                for row in out[e]:
                    w.writerow(list(row) + [str(b)])
            counts[e] = len(out[e])
        staged.append(counts)
    return {"cases": dirt.count, "staged": staged}


def _sample(r, keys, n):
    if not keys:
        return []
    idx = r.choice(len(keys), size=min(n, len(keys)), replace=False)
    return [keys[i] for i in sorted(idx)]


# ---------------------------------------------------------------- corpus

def corpus(out_dir, seed, n_epochs, docs_per_epoch, drift_epoch):
    """Write epoch e's micro-batch as out_dir/e{e:04d}.parquet.

    Columns (doc_id, text, source, embedding[64], label); doc_id strictly
    increases across epochs. About 10% of docs are near-duplicates (an
    earlier doc plus one token) and about 2% exact duplicates of an earlier
    doc, drawn from the same batch or an earlier one. Vectors sit around
    seeded centroids; from ``drift_epoch`` on every component shifts, so the
    IVF drift policy has a distribution change to catch.
    Returns per-epoch planted counts.
    """
    os.makedirs(out_dir, exist_ok=True)
    r = rng(seed, "corpus")
    cents = r.normal(0.0, 0.05, (N_CENTROIDS, DIM))
    texts = []
    planted = []
    i64, s = pa.int64(), pa.string()
    schema = pa.schema([("doc_id", i64), ("text", s), ("source", s),
                        ("embedding", pa.list_(pa.float32())), ("label", pa.int32())])
    doc_id = 0
    for e in range(n_epochs):
        ids, txt, src, vecs, labels = [], [], [], [], []
        near = exact = 0
        for _ in range(docs_per_epoch):
            u = r.random()
            if texts and u < 0.10:
                base = texts[r.integers(0, len(texts))]
                t = base + " dup"
                near += 1
            elif texts and u < 0.12:
                t = texts[r.integers(0, len(texts))]
                exact += 1
            else:
                t = " ".join(VOCAB[j] for j in r.integers(0, len(VOCAB), int(r.integers(20, 80))))
            texts.append(t)
            lab = int(r.integers(0, N_CENTROIDS))
            v = cents[lab] + r.normal(0.0, 0.1, DIM)
            if e >= drift_epoch:
                v = v + 0.15
            ids.append(doc_id)
            txt.append(t)
            src.append(f"src{int(r.integers(0, 20))}")
            vecs.append(v.astype(np.float32))
            labels.append(lab)
            doc_id += 1
        write_parquet(f"{out_dir}/e{e:04d}.parquet", {
            "doc_id": np.array(ids, dtype=np.int64), "text": txt, "source": src,
            "embedding": pa.array(vecs, type=pa.list_(pa.float32())),
            "label": np.array(labels, dtype=np.int32)}, schema)
        planted.append({"near_dup": near, "exact_dup": exact})
    return planted


# ------------------------------------------------------------ parameters

def zipf_terms(seed, n, per_query=2):
    """Seeded Zipf-distributed serve-read terms (distinct within a query)."""
    r = rng(seed, "terms")
    ranks = np.arange(1, len(VOCAB) + 1)
    p = 1.0 / ranks
    p /= p.sum()
    return [[VOCAB[i] for i in r.choice(len(VOCAB), per_query, replace=False, p=p)]
            for _ in range(n)]

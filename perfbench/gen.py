"""Seeded input generator for the benchmark.

Two families, both a pure function of (seed, scale):

* ``tables``: the ten parquet tables the engine's queries read (``region``
  through ``embeddings``), with the schemas, key ranges and value
  distributions of the engine's reference testdata: uniform TPC-H-ish
  dimensions and facts, an ``events`` stream with exponential values and
  sorted microsecond timestamps, a 30-word salad corpus with planted
  near-duplicate documents (``" dup"``-suffixed copies), and unit-norm
  64-dimensional embeddings.
* ``ingest``: Yelp-shaped JSON-lines batches (business, user, review) plus
  doc and vector batches cut from a generated corpus by id modulo. The rows
  cover the raw-input edge cases the domain ETLs handle: overnight hours,
  ``"0:0-0:0"`` days, missing days, python-repr-quoted NoiseLevel, empty
  elite and friends, null review text, is_open=0, null categories/hours.

``run.py`` calls ``gen_tables`` and ``gen_ingest`` before anything is
timed.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("a the data table row column key value part line order customer "
         "query scan filter join hash merge sort group agg window stream "
         "batch spark vector big small fast slow").split()
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
DAY_US = 86_400_000_000


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path)


def _dates(rng, n, start, end):
    lo = np.datetime64(start, "D")
    days = (np.datetime64(end, "D") - lo).astype(int)
    return (lo + rng.integers(0, days + 1, n)).astype("datetime64[us]")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _doc_texts(rng, n):
    """Word-salad documents; about 1 in 20 is a lightly mutated copy of an
    earlier document with a ``" dup"`` suffix (the near-dup structure the
    dedup queries look for)."""
    texts = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            src = texts[int(rng.integers(0, i))].replace(" dup", "").split(" ")
            for j in range(len(src)):
                if rng.random() < 0.05:
                    src[j] = WORDS[int(rng.integers(0, len(WORDS)))]
            texts.append(" ".join(src) + " dup")
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(WORDS[w] for w in rng.integers(0, len(WORDS), k)))
    return texts


def documents_table(rng, n):
    texts = _doc_texts(rng, n)
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P).tolist(), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in ids], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def embeddings_table(rng, n, dim=64):
    x = rng.standard_normal((n, dim)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64), pa.int64()),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32), pa.int32()),
    })


def gen_tables(out, seed, scale):
    """The query tables at ``scale`` (1.0 ≙ sf1 row counts)."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out, exist_ok=True)
    n_cust = max(20, int(150_000 * scale))
    n_supp = max(5, int(10_000 * scale))
    n_part = max(20, int(200_000 * scale))
    n_ord = max(100, int(1_500_000 * scale))
    n_line = 4 * n_ord
    n_ev = max(100, int(1_000_000 * scale))
    n_users = max(5, int(15_000 * scale))
    n_docs = max(500, int(50_000 * scale))
    n_emb = max(500, int(20_000 * scale))

    _write(pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    }), f"{out}/region.parquet")
    nk = np.arange(25, dtype=np.int32)
    _write(pa.table({
        "n_nationkey": pa.array(nk),
        "n_name": [f"NATION_{i}" for i in nk],
        "n_regionkey": pa.array(nk % 5),
    }), f"{out}/nation.parquet")

    ck = np.arange(n_cust, dtype=np.int64)
    _write(pa.table({
        "c_custkey": pa.array(ck),
        "c_name": [f"Customer#{i:09d}" for i in ck],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"],
            n_cust).tolist(),
    }), f"{out}/customer.parquet")

    sk = np.arange(n_supp, dtype=np.int64)
    _write(pa.table({
        "s_suppkey": pa.array(sk),
        "s_name": [f"Supplier#{i:09d}" for i in sk],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
    }), f"{out}/supplier.parquet")

    pk = np.arange(n_part, dtype=np.int64)
    adj = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
    noun = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
    _write(pa.table({
        "p_partkey": pa.array(pk),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                              "STANDARD"], n_part).tolist(),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (pk % 1000) / 10.0, 1)),
    }), f"{out}/part.parquet")

    _write(pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord).tolist(),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_ord)),
        "o_orderdate": pa.array(_dates(rng, n_ord, "1995-01-01", "2001-08-01")),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n_ord).tolist(),
    }), f"{out}/orders.parquet")

    _write(pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n_line)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": rng.choice(["A", "N", "R"], n_line).tolist(),
        "l_linestatus": rng.choice(["F", "O"], n_line).tolist(),
        "l_shipdate": pa.array(_dates(rng, n_line, "1995-01-02", "2001-11-04")),
    }), f"{out}/lineitem.parquet")

    ts = np.sort(rng.integers(0, 30 * DAY_US, n_ev))
    _write(pa.table({
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev).astype(np.int64)),
        "event_type": rng.choice(["click", "error", "purchase", "signup", "view"],
                                 n_ev).tolist(),
        "value": pa.array(np.maximum(0.01, np.round(rng.exponential(50.0, n_ev), 2))),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    }), f"{out}/events.parquet")

    _write(documents_table(rng, n_docs), f"{out}/documents.parquet")
    _write(embeddings_table(rng, n_emb), f"{out}/embeddings.parquet")
    return {"customer": n_cust, "supplier": n_supp, "part": n_part,
            "orders": n_ord, "lineitem": n_line, "events": n_ev,
            "documents": n_docs, "embeddings": n_emb}


# --------------------------------------------------------------------------
# Yelp-shaped ingest batches

CITIES = [("Phoenix", "AZ"), ("Las Vegas", "NV"), ("Toronto", "ON"),
          ("Charlotte", "NC"), ("Pittsburgh", "PA"), ("Madison", "WI")]
CATEGORIES = ["Restaurants", "Bars", "Coffee & Tea", "Pizza", "Nightlife",
              "Shopping", "Mexican", "Sushi Bars", "Bakeries", "Auto Repair"]
DAYS = ["Monday", "Tuesday", "Wednesday", "Thursday", "Friday", "Saturday",
        "Sunday"]
POSITIVE = ["great food and friendly staff", "absolutely loved it",
            "excellent service, will come back", "amazing and delicious"]
NEGATIVE = ["terrible service and cold food", "awful experience, never again",
            "rude staff and bad coffee", "horrible, disappointing meal"]
NEUTRAL = ["it was a place", "we ordered the usual", "parking is nearby"]


def _hours(rng, i):
    """Hours struct. Fixed rotations plant the edge cases: an overnight
    close, a ``0:0-0:0`` day and missing days."""
    kind = i % 5
    out = {}
    for d, day in enumerate(DAYS):
        if kind == 1 and d == 5:
            out[day] = "22:0-2:0"          # overnight wraparound
        elif kind == 2 and d == 0:
            out[day] = "0:0-0:0"           # zero-length day
        elif kind == 3 and d >= 5:
            continue                       # missing days → 0 hours
        else:
            o = int(rng.integers(6, 12))
            c = int(rng.integers(16, 23))
            out[day] = f"{o}:{int(rng.integers(0, 2)) * 30}-{c}:0"
    return out


def _attributes(rng, i):
    b = lambda: ["True", "False", None][int(rng.integers(0, 3))]
    noise = ["u'average'", "'quiet'", "u'loud'", "average", None][i % 5]
    return {
        "AcceptsInsurance": b(), "BusinessAcceptsCreditCards": b(),
        "BikeParking": b(), "BusinessAcceptsBitcoin": b(),
        "ByAppointmentOnly": b(), "Caters": b(), "CoatCheck": b(),
        "Corkage": b(), "DriveThru": b(), "DogsAllowed": b(),
        "GoodForDancing": b(), "GoodForKids": b(), "HappyHour": b(),
        "HasTV": b(),
        "Ambience": ("{'romantic': False, 'casual': True, 'classy': False}"
                     if i % 2 else '{"casual": "False", "classy": "True"}'),
        "BusinessParking": "{'garage': False, 'street': True, 'lot': True}",
        "NoiseLevel": noise,
        "WiFi": ["u'free'", "'no'", "u'paid'"][i % 3],
        "RestaurantsPriceRange2": str(1 + i % 4),
        "Music": None, "RestaurantsCounterService": "True",
    }


def _business(rng, i):
    city, state = CITIES[i % len(CITIES)]
    cats = ", ".join(rng.choice(CATEGORIES, int(rng.integers(1, 4)),
                                replace=False).tolist())
    row = {
        "business_id": f" b{i:07d} " if i % 11 == 0 else f"b{i:07d}",
        "name": f"Business {i}", "address": f"{i} Main St",
        "city": city, "state": state, "postal_code": f"{10000 + i % 89999}",
        "latitude": round(float(rng.uniform(30, 45)), 6),
        "longitude": round(float(rng.uniform(-120, -75)), 6),
        "stars": float(rng.integers(2, 11)) / 2.0,
        "review_count": int(rng.integers(0, 500)),
        "is_open": 0 if i % 10 == 7 else 1,
        "categories": None if i % 29 == 5 else cats,
        "hours": None if i % 31 == 6 else _hours(rng, i),
        "attributes": _attributes(rng, i),
    }
    return row


def _user(rng, i, n_known):
    if i % 4 == 0:
        friends = ""
    else:
        k = 40 if i % 17 == 0 else int(rng.integers(1, 6))
        friends = ", ".join(f"u{int(f):07d}" for f in rng.integers(0, max(1, n_known), k))
    years = sorted(set(int(y) for y in rng.integers(2008, 2020, int(rng.integers(1, 4)))))
    row = {
        "user_id": f"u{i:07d}", "name": f"User {i}",
        "review_count": int(rng.integers(0, 300)),
        "yelping_since": f"{int(rng.integers(2005, 2020))}-0{int(rng.integers(1, 10))}-1"
                         f"{int(rng.integers(0, 10))} 12:00:00",
        "useful": int(rng.integers(0, 50)), "funny": int(rng.integers(0, 20)),
        "cool": int(rng.integers(0, 20)),
        "elite": "" if i % 3 == 0 else ",".join(str(y) for y in years),
        "friends": friends, "fans": int(rng.integers(0, 40)),
        "average_stars": round(float(rng.uniform(1, 5)), 2),
    }
    for c in ["hot", "more", "profile", "cute", "list", "note", "plain", "cool",
              "funny", "writer", "photos"]:
        row[f"compliment_{c}"] = int(rng.integers(0, 10))
    return row


def _review(rng, i, n_biz, n_user):
    k = i % 10
    text = (None if k == 3 else
            POSITIVE[i % 4] if k < 5 else NEGATIVE[i % 4] if k < 8 else NEUTRAL[i % 3])
    zero = i % 13 == 0
    return {
        "review_id": f"r{i:09d}",
        "user_id": f"u{int(rng.integers(0, n_user)):07d}",
        "business_id": f"b{int(rng.integers(0, n_biz)):07d}",
        "stars": float(rng.integers(1, 6)),
        "useful": 0 if zero else int(rng.integers(0, 10)),
        "funny": 0 if zero else int(rng.integers(0, 5)),
        "cool": 0 if zero else int(rng.integers(0, 5)),
        "text": text,
        "date": f"20{int(rng.integers(10, 22))}-0{int(rng.integers(1, 10))}-1"
                f"{int(rng.integers(0, 10))} {int(rng.integers(10, 24))}:15:00",
    }


def _jsonl(path, rows):
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps(r, separators=(",", ":")) + "\n")


def gen_ingest(out, seed, batches, reviews):
    """``batches`` Yelp-shaped batches under ``out/batch_<b>/``; each holds
    business/user/review JSON-lines plus ``docs.parquet`` and
    ``vectors.parquet`` (the corpus rows with id % batches == b). Writes
    ``manifest.json`` with the per-batch raw row counts and the review
    total the unified table must end with."""
    rng = np.random.default_rng([seed, 2])
    n_biz_b = max(10, reviews // 10)
    n_user_b = max(10, reviews // 6)
    n_corpus = 100 * batches
    docs = documents_table(rng, n_corpus)
    vecs = embeddings_table(rng, n_corpus)
    manifest = {"batches": []}
    for b in range(batches):
        d = f"{out}/batch_{b}"
        os.makedirs(d, exist_ok=True)
        biz = [_business(rng, b * n_biz_b + i) for i in range(n_biz_b)]
        users = [_user(rng, b * n_user_b + i, (b + 1) * n_user_b)
                 for i in range(n_user_b)]
        revs = [_review(rng, b * reviews + i, (b + 1) * n_biz_b, (b + 1) * n_user_b)
                for i in range(reviews)]
        _jsonl(f"{d}/business.json", biz)
        _jsonl(f"{d}/user.json", users)
        _jsonl(f"{d}/review.json", revs)
        bd = docs.filter(pa.array(docs["doc_id"].to_numpy() % batches == b))
        bv = vecs.filter(pa.array(vecs["vec_id"].to_numpy() % batches == b))
        _write(bd, f"{d}/docs.parquet")
        _write(bv, f"{d}/vectors.parquet")
        manifest["batches"].append({
            "business": len(biz), "user": len(users), "review": len(revs),
            "docs": bd.num_rows, "vectors": bv.num_rows})
    with open(f"{out}/manifest.json", "w") as f:
        json.dump(manifest, f)
    return manifest


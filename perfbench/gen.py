"""Seeded inputs for the benchmark.

Everything here derives from a splitmix64 stream, so a seed names its inputs
exactly on any Python version:

- `write_tables`: the relational database the engine turns into a graph, a
  TPC-H-shaped star schema plus the `events`, `documents` and `embeddings`
  tables, with the column types of the engine's fixture tables. Keys are
  dense and 0-based, so a part's graph id equals its `p_partkey`.
- `playlists`: the `serve` workload's requests.
- `batch_slices`: the `ingest` workload's micro-batch assignment.
"""

import math

MASK = (1 << 64) - 1

# Row counts at scale factor 1, as in TPC-H; `documents` and `embeddings`
# keep the fixture's fixed size.
BASE_ROWS = {"customer": 150_000, "supplier": 10_000, "part": 200_000,
             "orders": 1_500_000, "events": 1_000_000}
DOCUMENTS = 500
EMBEDDINGS = 500
EMBEDDING_DIM = 64

WORDS = ("key agg row scan slow fast table value part hash order group join "
         "merge batch spark data column line query stream window sort filter "
         "customer big small the a of and to in is").split()
NOISE = ("## %% 0x1f 42 :: || 7 ~~ 1999 @@").split()


class Rng:
    """splitmix64 (Steele, Lea and Flood, 2014)."""

    def __init__(self, seed):
        self.state = seed & MASK

    def next64(self):
        self.state = (self.state + 0x9E3779B97F4A7C15) & MASK
        z = self.state
        z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & MASK
        z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & MASK
        return z ^ (z >> 31)

    def below(self, n):
        return self.next64() % n

    def uniform(self):
        return (self.next64() >> 11) / float(1 << 53)

    def choice(self, xs):
        return xs[self.below(len(xs))]

    def shuffled(self, xs):
        xs = list(xs)
        for i in range(len(xs) - 1, 0, -1):
            j = self.below(i + 1)
            xs[i], xs[j] = xs[j], xs[i]
        return xs


def derive(seed, stream):
    """An independent generator for one named use of a seed."""
    h = 0
    for ch in stream.encode():
        h = (h * 131 + ch) & MASK
    return Rng(Rng(seed ^ h).next64())


def row_counts(sf):
    counts = {t: max(1, int(n * sf)) for t, n in BASE_ROWS.items()}
    counts.update(region=5, nation=25, documents=DOCUMENTS, embeddings=EMBEDDINGS)
    return counts


def _document(rng, doc_id):
    # Word counts straddle the quality gate's 50-token floor, and one doc
    # in eight is symbol-heavy, so every gate flag has docs on both sides.
    n = 15 + rng.below(100)
    vocab = NOISE if rng.below(8) == 0 else WORDS
    words = [rng.choice(vocab) if rng.below(4) else rng.choice(WORDS) for _ in range(n)]
    text = " ".join(words)
    return {"doc_id": doc_id, "text": text,
            "lang": "en" if rng.below(5) else rng.choice(["de", "fr"]),
            "source": f"src{rng.below(20)}", "n_chars": len(text)}


def tables(sf, seed):
    """Column lists per table, keyed by table and column name."""
    import datetime as dt
    c = row_counts(sf)
    rng = derive(seed, "tables")
    day = 86_400_000
    utc = dt.timezone.utc
    t1992 = int(dt.datetime(1992, 1, 1, tzinfo=utc).timestamp() * 1000)
    t2024 = int(dt.datetime(2024, 1, 1, tzinfo=utc).timestamp() * 1_000_000)
    out = {}
    out["region"] = {"r_regionkey": list(range(5)),
                     "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}
    out["nation"] = {"n_nationkey": list(range(25)),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": [i % 5 for i in range(25)]}
    segs = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    out["customer"] = {
        "c_custkey": list(range(c["customer"])),
        "c_name": [f"Customer#{i:09d}" for i in range(c["customer"])],
        "c_nationkey": [rng.below(25) for _ in range(c["customer"])],
        "c_acctbal": [round(rng.uniform() * 10_999 - 999, 2) for _ in range(c["customer"])],
        "c_mktsegment": [rng.choice(segs) for _ in range(c["customer"])]}
    out["supplier"] = {
        "s_suppkey": list(range(c["supplier"])),
        "s_name": [f"Supplier#{i:09d}" for i in range(c["supplier"])],
        "s_nationkey": [rng.below(25) for _ in range(c["supplier"])],
        "s_acctbal": [round(rng.uniform() * 10_999 - 999, 2) for _ in range(c["supplier"])]}
    adj = ["small", "red", "large", "blue", "green", "steel", "plated"]
    noun = ["ring", "widget", "bolt", "gear", "panel", "valve", "spring"]
    out["part"] = {
        "p_partkey": list(range(c["part"])),
        "p_name": [f"{rng.choice(adj)} {rng.choice(noun)}" for _ in range(c["part"])],
        "p_brand": [f"Brand#{1 + rng.below(25)}" for _ in range(c["part"])],
        "p_type": [rng.choice(["ECONOMY", "STANDARD", "PROMO", "LARGE"]) for _ in range(c["part"])],
        "p_size": [1 + rng.below(50) for _ in range(c["part"])],
        "p_retailprice": [900.0 + (i % 1000) / 10 for i in range(c["part"])]}
    o = {k: [] for k in ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
                         "o_orderdate", "o_orderpriority"]}
    li = {k: [] for k in ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
                          "l_quantity", "l_extendedprice", "l_discount", "l_tax",
                          "l_returnflag", "l_linestatus", "l_shipdate"]}
    prios = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    for k in range(c["orders"]):
        date = t1992 + rng.below(2400) * day
        total = 0.0
        for line in range(1 + rng.below(7)):
            qty = float(1 + rng.below(50))
            price = round(qty * (900 + rng.below(1100)), 2)
            total += price
            li["l_orderkey"].append(k)
            li["l_partkey"].append(rng.below(c["part"]))
            li["l_suppkey"].append(rng.below(c["supplier"]))
            li["l_linenumber"].append(line + 1)
            li["l_quantity"].append(qty)
            li["l_extendedprice"].append(price)
            li["l_discount"].append(rng.below(11) / 100)
            li["l_tax"].append(rng.below(9) / 100)
            li["l_returnflag"].append(rng.choice("ANR"))
            li["l_linestatus"].append(rng.choice("FO"))
            li["l_shipdate"].append(date + (1 + rng.below(120)) * day)
        o["o_orderkey"].append(k)
        o["o_custkey"].append(rng.below(c["customer"]))
        o["o_orderstatus"].append(rng.choice("FOP"))
        o["o_totalprice"].append(round(total, 2))
        o["o_orderdate"].append(date)
        o["o_orderpriority"].append(rng.choice(prios))
    out["orders"], out["lineitem"] = o, li
    ev = {k: [] for k in ["event_id", "ts", "user_id", "event_type", "value", "props"]}
    ts = t2024
    for i in range(c["events"]):
        ts += rng.below(600_000_000)
        ev["event_id"].append(i)
        ev["ts"].append(ts)
        ev["user_id"].append(rng.below(c["customer"]))
        ev["event_type"].append(rng.choice(["view", "click", "purchase", "error"]))
        ev["value"].append(round(rng.uniform() * 100, 2))
        ev["props"].append('{"k": %d}' % rng.below(100))
    out["events"] = ev
    docs = [_document(rng, i) for i in range(DOCUMENTS)]
    out["documents"] = {k: [d[k] for d in docs] for k in docs[0]}
    vecs = []
    for _ in range(EMBEDDINGS):
        v = [rng.uniform() - 0.5 for _ in range(EMBEDDING_DIM)]
        norm = math.sqrt(sum(x * x for x in v)) or 1.0
        vecs.append([x / norm for x in v])
    out["embeddings"] = {"vec_id": list(range(EMBEDDINGS)), "embedding": vecs,
                         "label": [rng.below(4) for _ in range(EMBEDDINGS)]}
    return out


def arrow_types():
    import pyarrow as pa
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ms = pa.timestamp("ms")
    return {
        "region": {"r_regionkey": i32, "r_name": s},
        "nation": {"n_nationkey": i32, "n_name": s, "n_regionkey": i32},
        "customer": {"c_custkey": i64, "c_name": s, "c_nationkey": i32,
                     "c_acctbal": f64, "c_mktsegment": s},
        "supplier": {"s_suppkey": i64, "s_name": s, "s_nationkey": i32, "s_acctbal": f64},
        "part": {"p_partkey": i64, "p_name": s, "p_brand": s, "p_type": s,
                 "p_size": i32, "p_retailprice": f64},
        "orders": {"o_orderkey": i64, "o_custkey": i64, "o_orderstatus": s,
                   "o_totalprice": f64, "o_orderdate": ms, "o_orderpriority": s},
        "lineitem": {"l_orderkey": i64, "l_partkey": i64, "l_suppkey": i64,
                     "l_linenumber": i32, "l_quantity": f64, "l_extendedprice": f64,
                     "l_discount": f64, "l_tax": f64, "l_returnflag": s,
                     "l_linestatus": s, "l_shipdate": ms},
        "events": {"event_id": i64, "ts": pa.timestamp("us"), "user_id": i64,
                   "event_type": s, "value": f64, "props": s},
        "documents": {"doc_id": i64, "text": s, "lang": s, "source": s, "n_chars": i64},
        "embeddings": {"vec_id": i64, "embedding": pa.list_(pa.float32()), "label": i32},
    }


def write_table(path, columns, types):
    import pyarrow as pa
    import pyarrow.parquet as pq
    arrays = [pa.array(columns[name], type=t) for name, t in types.items()]
    pq.write_table(pa.Table.from_arrays(arrays, names=list(types)), path)


def write_tables(directory, sf, seed):
    import os
    os.makedirs(directory, exist_ok=True)
    types = arrow_types()
    for name, cols in tables(sf, seed).items():
        write_table(os.path.join(directory, f"{name}.parquet"), cols, types[name])


def playlists(seed, n_parts, count, skew=1.1):
    """`count + 1` playlists of 1-5 distinct part ids. Parts are drawn with
    a Zipf popularity skew over a seeded ranking, so requests differ yet
    reuse popular parts. The exponent is an assumption, not fitted to
    traffic. Playlist 0 is the probe, asked outside the timed loop; the
    other `count` form the timed request stream, where a playlist recurs
    only when the draws happen to repeat it."""
    rng = derive(seed, "playlists")
    ranking = rng.shuffled(range(n_parts))
    cum, total = [], 0.0
    for r in range(n_parts):
        total += 1.0 / (r + 1) ** skew
        cum.append(total)

    def draw():
        size = 1 + rng.below(5)
        chosen = []
        while len(chosen) < size:
            x = rng.uniform() * total
            lo, hi = 0, n_parts - 1
            while lo < hi:
                mid = (lo + hi) // 2
                if cum[mid] < x:
                    lo = mid + 1
                else:
                    hi = mid
            part = ranking[lo]
            if part not in chosen:
                chosen.append(part)
        return sorted(chosen)

    return [draw() for _ in range(count + 1)]


def batch_slices(seed, doc_ids, n_batches):
    """Assign every doc to exactly one of `n_batches` near-equal micro-batches;
    the seed decides which batch each doc lands in."""
    order = derive(seed, "batches").shuffled(doc_ids)
    size, extra = divmod(len(order), n_batches)
    out, start = [], 0
    for b in range(n_batches):
        end = start + size + (1 if b < extra else 0)
        out.append(sorted(order[start:end]))
        start = end
    return out

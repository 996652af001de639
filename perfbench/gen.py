"""Seeded input generators for the benchmark.

Two families of inputs, both pure functions of the seed (the same seed gives
byte-identical files):

* ``write_tables``: the TPC-H-ish star schema plus ``events``, ``documents``
  and ``embeddings`` as parquet, in the column types and value domains the
  engine's registry queries read (see TESTDATA.md and FIXTURES.md §4).
* ``reference_records``: reference-shape pin/geo/user records as JSON lines
  (FIXTURES.md §1), the input of the streaming path and of the batch job.
  Re-sent records are exact copies, so ``dropDuplicates`` has one answer.

The engine only ever sees the files written here.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
LANGS = ["en", "zh", "de", "es", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_TYPES = ["ECONOMY", "STANDARD", "LARGE", "PROMO", "SMALL", "MEDIUM"]
P_ADJ = ["blue", "hot", "small", "old", "red", "new", "cold", "large"]
P_NOUN = ["bolt", "gear", "anvil", "ring", "widget", "rod", "plate", "gizmo"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
DAY_US = 86_400_000_000


def _pick(rng, vocab, n):
    return [vocab[i] for i in rng.integers(0, len(vocab), n)]


def _ts(days_us):
    return pa.array(days_us.astype("int64"), pa.timestamp("us"))


TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def _table(name, rng, sf):
    """Columns of one table at scale factor ``sf``."""
    n_cust, n_supp = int(150_000 * sf), max(10, int(10_000 * sf))
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    epoch_1995 = np.datetime64("1995-01-01", "us").astype("int64")
    if name == "region":
        return {"r_regionkey": pa.array(range(5), pa.int32()),
                "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}
    if name == "nation":
        return {"n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}
    if name == "customer":
        n = n_cust
        return {
            "c_custkey": pa.array(np.arange(n), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n)],
            "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n), 2),
            "c_mktsegment": _pick(rng, SEGMENTS, n)}
    if name == "supplier":
        n = n_supp
        return {
            "s_suppkey": pa.array(np.arange(n), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n)],
            "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n), 2)}
    if name == "part":
        n = n_part
        return {
            "p_partkey": pa.array(np.arange(n), pa.int64()),
            "p_name": [f"{a} {b}" for a, b in
                       zip(_pick(rng, P_ADJ, n), _pick(rng, P_NOUN, n))],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n)],
            "p_type": _pick(rng, P_TYPES, n),
            "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
            "p_retailprice": np.round(900 + (np.arange(n) % 1000) / 10, 1)}
    if name == "orders":
        n = n_ord
        return {
            "o_orderkey": pa.array(np.arange(n), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n), pa.int64()),
            "o_orderstatus": _pick(rng, ("F", "O", "P"), n),
            "o_totalprice": np.round(rng.uniform(1000, 500_000, n), 2),
            "o_orderdate": _ts(epoch_1995 + rng.integers(0, 2405, n) * DAY_US),
            "o_orderpriority": _pick(rng, PRIORITIES, n)}
    if name == "lineitem":
        n = int(6_000_000 * sf)
        return {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
            "l_quantity": rng.integers(1, 51, n).astype("float64"),
            "l_extendedprice": np.round(rng.uniform(900, 105_000, n), 2),
            "l_discount": np.round(rng.uniform(0, 0.1, n), 2),
            "l_tax": np.round(rng.uniform(0, 0.08, n), 2),
            "l_returnflag": _pick(rng, ("A", "N", "R"), n),
            "l_linestatus": _pick(rng, ("F", "O"), n),
            "l_shipdate": _ts(epoch_1995 + rng.integers(1, 2500, n) * DAY_US)}
    if name == "events":
        n = int(1_000_000 * sf)
        start = np.datetime64("2024-01-01", "us").astype("int64")
        gaps = rng.exponential(30 * DAY_US / n, n)
        return {
            "event_id": pa.array(np.arange(n), pa.int64()),
            "ts": _ts(start + np.minimum(np.cumsum(gaps), 30 * DAY_US - 1)),
            "user_id": pa.array(rng.integers(0, 150, n), pa.int64()),
            "event_type": _pick(rng, EVENT_TYPES, n),
            "value": np.maximum(np.round(rng.exponential(50, n), 2), 0.01),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]}
    if name == "documents":
        # random text over a small vocabulary; ~5% near-duplicates of an
        # earlier document with a " dup" suffix
        n = max(500, int(50_000 * sf))
        texts = []
        for i in range(n):
            if i > 10 and rng.random() < 0.05:
                texts.append(texts[int(rng.integers(0, i))] + " dup")
            else:
                k = int(rng.integers(10, 100))
                texts.append(" ".join(WORDS[w] for w in rng.integers(0, 30, k)))
        return {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": texts,
            "lang": [LANGS[i] for i in rng.choice(5, n, p=LANG_P)],
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64())}
    if name == "embeddings":
        # unit vectors with a weak per-label direction
        n = max(500, int(20_000 * sf))
        labels = rng.integers(0, 10, n)
        centroids = rng.normal(0, 1, (10, 64))
        vecs = rng.normal(0, 1, (n, 64)) + 0.15 * centroids[labels]
        vecs = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
        return {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(vecs.astype("float32")),
                                  pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32())}
    raise ValueError(name)


def write_tables(out, seed, sf, only=TABLES):
    """The registry's tables (all ten, or those named in ``only``) at scale
    factor ``sf`` under ``out``. Each table draws from its own stream of the
    seed, so a subset is byte-identical to the same tables of a full set."""
    os.makedirs(out, exist_ok=True)
    for name in only:
        rng = np.random.Generator(np.random.PCG64([seed, TABLES.index(name)]))
        pq.write_table(pa.table(_table(name, rng, sf)),
                       os.path.join(out, f"{name}.parquet"))


CATEGORIES = ["art", "beauty", "christmas", "diy-and-crafts", "education",
              "event-planning", "finance", "home-decor", "mens-fashion",
              "quotes", "tattoos", "travel", "vehicles"]
COUNTRIES = [f"Country_{i:02d}" for i in range(40)]
FIRST = ["Ann", "Bob", "Cara", "Dan", "Eve", "Finn", "Gia", "Hal", "Ida",
         "Jon", "Kim", "Leo", "Mia", "Ned", "Ola", "Pat"]
LAST = ["Smith", "Lee", "Khan", "Garcia", "Ivanova", "Okafor", "Muller",
        "Rossi", "Tanaka", "Silva", "Novak", "Dubois"]
MEDIA = ["image", "video", "multi-video(story page format)"]


def _followers(rng, n):
    """follower_count strings: plain, "25k", "2.5k" and "2M" forms plus the
    "User Info Error" sentinel (the last two parse to NULL when cleaned)."""
    r = rng.random(n)
    a, b = rng.integers(1, 1000, n), rng.integers(1, 10, n)
    return ["User Info Error" if x < 0.04 else f"{y % 9 + 1}.{z}k" if x < 0.07
            else f"{y}k" if x < 0.30 else f"{z}M" if x < 0.35 else str(y - 1)
            for x, y, z in zip(r, a, b)]


def _iso(rng, n, year_lo, year_hi):
    lo = np.datetime64(f"{year_lo}-01-01T00:00:00", "s").astype("int64")
    hi = np.datetime64(f"{year_hi + 1}-01-01T00:00:00", "s").astype("int64")
    return np.datetime_as_string(
        rng.integers(lo, hi, n).astype("datetime64[s]"), unit="s")


def reference_records(seed, n):
    """``n`` distinct reference records per topic plus ~5% exact re-sends,
    as three aligned lists of JSON lines (pin, geo, user)."""
    rng = np.random.Generator(np.random.PCG64(seed))
    ind = range(n)
    cat = _pick(rng, CATEGORIES, n)
    w = rng.integers(0, len(WORDS), (n, 8))
    words = [" ".join(WORDS[j] for j in row) for row in w]
    name = [f"{a} {b}" for a, b in zip(_pick(rng, FIRST, n), _pick(rng, LAST, n))]
    sentinel = rng.random((n, 4))
    pin = {
        "index": ind,
        "unique_id": ["%032x" % u for u in rng.integers(0, 2**62, n)],
        "title": [("No Title Data Available" if s < 0.05 else f"{c} {t[:24]}")
                  for s, c, t in zip(sentinel[:, 0], cat, words)],
        "description": [f"{t} #{i}" for t, i in zip(words, ind)],
        "poster_name": [("User Info Error" if s < 0.03 else p)
                        for s, p in zip(sentinel[:, 1], name)],
        "follower_count": _followers(rng, n),
        "tag_list": [("N,o, ,T,a,g,s, ,A,v,a,i,l,a,b,l,e" if s < 0.05
                      else f"{c},{WORDS[i % 30]},pin")
                     for s, c, i in zip(sentinel[:, 2], cat, ind)],
        "is_image_or_video": _pick(rng, MEDIA, n),
        "image_src": [("Image src error." if s < 0.03
                       else f"https://img.example/{i}.jpg")
                      for s, i in zip(sentinel[:, 3], ind)],
        "downloaded": [str(d) for d in rng.integers(0, 2, n)],
        "save_location": [f"Local save in /data/{c}" for c in cat],
        "category": cat}
    geo = {
        "ind": ind,
        "country": _pick(rng, COUNTRIES, n),
        "latitude": np.round(rng.uniform(-90, 90, n), 4).tolist(),
        "longitude": np.round(rng.uniform(-180, 180, n), 4).tolist(),
        "timestamp": _iso(rng, n, 2015, 2024).tolist()}
    user = {
        "ind": ind,
        "first_name": _pick(rng, FIRST, n),
        "last_name": _pick(rng, LAST, n),
        "age": rng.integers(16, 71, n).tolist(),
        "date_joined": _iso(rng, n, 2015, 2020).tolist()}
    resend = rng.random(n) < 0.05
    resend_of = (rng.random(n) * np.arange(n)).astype("int64")
    topics = []
    for cols in (pin, geo, user):
        keys = list(cols)
        enc = json.JSONEncoder(separators=(",", ":")).encode
        rows = [enc(dict(zip(keys, vals))) for vals in zip(*cols.values())]
        lines = []
        for i, row in enumerate(rows):
            lines.append(row)
            if i > 0 and resend[i]:
                lines.append(rows[resend_of[i]])
        topics.append(lines)
    return topics


def write_lines(dirpath, lines, n_files, prefix="part"):
    """Split ``lines`` into ``n_files`` JSON-line files under ``dirpath``;
    returns the file paths in order."""
    os.makedirs(dirpath, exist_ok=True)
    paths = []
    per = -(-len(lines) // n_files)
    for i in range(n_files):
        chunk = lines[i * per:(i + 1) * per]
        p = os.path.join(dirpath, f"{prefix}-{i:05d}.json")
        with open(p, "w") as f:
            f.write("\n".join(chunk) + "\n")
        paths.append(p)
    return paths

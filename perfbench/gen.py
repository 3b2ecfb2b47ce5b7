"""Seeded input generator for the perfbench workloads.

Writes, for one workload and one seed, the parquet tables its queries read,
in the schema and value domains of the engine's sf fixtures: the TPC-H-ish
star schema and `events` (relational), `documents` (similarity), or the
8-file text corpus the MapReduce jobs read plus the same text as
`documents` (mr_corpus). The same
(workload, seed) gives byte-for-byte the same content: every random draw
comes from one numpy PCG64 stream seeded from both.

The properties the operators are sensitive to are fixed per workload and
listed in SIZES / PROPS below (and in BENCHMARK.json's `why` lines):
near-duplicate share of `documents`, user-key skew of `events` and the
share of out-of-order events.
"""

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORKLOADS = ("mr_corpus", "relational", "similarity")

# Row counts per workload: for relational the sf0.1 shape of the star
# schema and events; for similarity the sf0.01 count of documents, because
# the DuckDB reference of dedup_jaccard3 compares all pairs; for mr_corpus an
# 8-file corpus of `corpus_bytes` bytes, the size of the reference's own 8
# Gutenberg files, whose `doc_lines`-line slices are also written as
# documents.parquet.
SIZES = {
    "mr_corpus": dict(corpus_bytes=3_301_104, doc_lines=40),
    "relational": dict(customer=15000, supplier=1000, part=20000,
                       orders=150000, lineitem=600000, events=100000),
    "similarity": dict(documents=500),
}

PROPS = {
    # share of documents that are near copies (1-2 word edits) of an original
    "near_dup_share": 0.10,
    # events.user_id ~ Zipf-like weights rank^-s over `users` ids
    "user_zipf_s": 0.8,
    "users": 1500,
    # share of events whose ts is pushed back 1 s..10 min (< the 2 h
    # watermark of the streaming twins, so no event is dropped as late)
    "out_of_order_share": 0.01,
    # corpus vocabulary size and its Zipf exponent
    "vocab": 6000,
    "vocab_zipf_s": 1.1,
}

# The fixture's document vocabulary (documents.text is drawn from it).
DOC_WORDS = (
    "a the data spark query table row column key value hash sort merge join "
    "group agg filter scan window stream batch line part order customer "
    "vector fast slow big small").split()
LANGS = ["en", "es", "zh", "de", "fr"]
LANG_P = [0.41, 0.15, 0.15, 0.14, 0.15]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PART_COLORS = ["large", "hot", "blue", "red", "green", "small", "dark", "light"]
PART_NOUNS = ["ring", "bolt", "nut", "gear", "pipe", "valve", "screw", "spring"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["view", "click", "signup", "purchase", "error"]
CORPUS_FILES = ["being_ernest", "dorian_gray", "frankenstein", "grimm",
                "huckleberry_finn", "metamorphosis", "sherlock_holmes",
                "tom_sawyer"]

US_PER_DAY = 86_400_000_000


def _ts(base_day, us):
    """Microsecond timestamps (no zone, as in the fixture) from day offsets."""
    start = np.datetime64("1970-01-01", "us") + np.timedelta64(base_day, "D")
    return pa.array(start + us.astype("timedelta64[us]"), type=pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def _star(rng, out, n):
    i32 = lambda a: pa.array(a, type=pa.int32())
    i64 = lambda a: pa.array(a, type=pa.int64())
    _write(out, "region", {"r_regionkey": i32(np.arange(5)),
                           "r_name": REGIONS})
    _write(out, "nation", {"n_nationkey": i32(np.arange(25)),
                           "n_name": [f"NATION_{i}" for i in range(25)],
                           "n_regionkey": i32(np.arange(25) % 5)})
    c = n["customer"]
    _write(out, "customer", {
        "c_custkey": i64(np.arange(c)),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": i32(rng.integers(0, 25, c)),
        "c_acctbal": _money(rng, -999.99, 9999.99, c),
        "c_mktsegment": list(rng.choice(SEGMENTS, c))})
    s = n["supplier"]
    _write(out, "supplier", {
        "s_suppkey": i64(np.arange(s)),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": i32(rng.integers(0, 25, s)),
        "s_acctbal": _money(rng, -999.99, 9999.99, s)})
    p = n["part"]
    _write(out, "part", {
        "p_partkey": i64(np.arange(p)),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(PART_COLORS, p),
                                             rng.choice(PART_NOUNS, p))],
        "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, p)],
        "p_type": list(rng.choice(PART_TYPES, p)),
        "p_size": i32(rng.integers(1, 51, p)),
        "p_retailprice": np.round(900.0 + (np.arange(p) % 1000) / 10.0, 1)})
    o = n["orders"]
    _write(out, "orders", {
        "o_orderkey": i64(np.arange(o)),
        "o_custkey": i64(rng.integers(0, c, o)),
        "o_orderstatus": list(rng.choice(["F", "O", "P"], o)),
        "o_totalprice": _money(rng, 1000.0, 500000.0, o),
        # 1995-01-01 .. 2001-08-01, midnight
        "o_orderdate": _ts(9131, rng.integers(0, 2404, o) * US_PER_DAY),
        "o_orderpriority": list(rng.choice(PRIORITIES, o))})
    m = n["lineitem"]
    _write(out, "lineitem", {
        "l_orderkey": i64(rng.integers(0, o, m)),
        "l_partkey": i64(rng.integers(0, p, m)),
        "l_suppkey": i64(rng.integers(0, s, m)),
        "l_linenumber": i32(rng.integers(1, 8, m)),
        "l_quantity": rng.integers(1, 51, m).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, m),
        "l_discount": rng.integers(0, 11, m) / 100.0,
        "l_tax": rng.integers(0, 9, m) / 100.0,
        "l_returnflag": list(rng.choice(["A", "N", "R"], m)),
        "l_linestatus": list(rng.choice(["O", "F"], m)),
        # 1995-01-02 .. 2001-11-04, midnight
        "l_shipdate": _ts(9132, rng.integers(0, 2498, m) * US_PER_DAY)})


def _events(rng, out, e):
    users = PROPS["users"]
    w = np.arange(1, users + 1, dtype=np.float64) ** -PROPS["user_zipf_s"]
    ids = rng.permutation(users)
    # 2024-01-01 .. +30 days, increasing with event_id ...
    us = np.sort(rng.integers(0, 30 * US_PER_DAY, e))
    # ... except a planted out-of-order share, pushed back 1 s .. 10 min
    late = rng.random(e) < PROPS["out_of_order_share"]
    us = us - late * rng.integers(1_000_000, 600_000_000, e)
    us = np.maximum(us, 0)
    _write(out, "events", {
        "event_id": pa.array(np.arange(e), type=pa.int64()),
        "ts": _ts(19723, us),
        "user_id": pa.array(ids[rng.choice(users, e, p=w / w.sum())],
                            type=pa.int64()),
        "event_type": list(rng.choice(EVENT_TYPES, e)),
        "value": np.round(rng.exponential(40.0, e).clip(0, 560.21), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)]})


def _near_dup(rng, words):
    words = list(words)
    for _ in range(int(rng.integers(1, 3))):
        words[int(rng.integers(0, len(words)))] = str(rng.choice(DOC_WORDS))
    return words


def _documents(rng, out, d):
    """Near-duplicates copy an original (never another copy) with 1-2 word
    edits; at 24+ words their 3-shingle Jaccard to it stays above 0.5, so
    every seed plants the same cluster shape: stars of diameter <= 2.
    """
    texts, originals = [], []
    n_words = rng.integers(24, 100, d)
    dup = rng.random(d) < PROPS["near_dup_share"]
    dup[0] = False
    for i in range(d):
        if dup[i]:
            src = texts[originals[int(rng.integers(0, len(originals)))]]
            texts.append(" ".join(_near_dup(rng, src.split(" "))))
        else:
            originals.append(i)
            texts.append(" ".join(rng.choice(DOC_WORDS, n_words[i])))
    _write(out, "documents", {
        "doc_id": pa.array(np.arange(d), type=pa.int64()),
        "text": texts,
        "lang": list(rng.choice(LANGS, d, p=LANG_P)),
        "source": [f"src{i % 20}" for i in range(d)],
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64())})


def _vocabulary(rng, size):
    """Distinct letter-only words built from syllables."""
    syl = ["ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "pe", "da", "gu",
           "ha", "je", "fo", "bi", "ze", "th", "st", "an", "er", "in", "ou"]
    seen, words = set(), []
    while len(words) < size:
        w = "".join(rng.choice(syl, int(rng.integers(1, 5))))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return np.array(words)


def _corpus(rng, out, n_bytes, doc_lines):
    vocab = _vocabulary(rng, PROPS["vocab"])
    w = np.arange(1, len(vocab) + 1, dtype=np.float64) ** -PROPS["vocab_zipf_s"]
    w /= w.sum()
    # lines average about 70 bytes; draw more than needed, cut at n_bytes
    per_line = rng.integers(6, 16, n_bytes // 50)
    tokens = vocab[rng.choice(len(vocab), int(per_line.sum()), p=w)]
    # capitalised and punctuated variants exercise the letter tokenizer
    caps = rng.random(len(tokens)) < 0.08
    tokens = np.where(caps, np.char.capitalize(tokens), tokens)
    punct = rng.choice(["", "", "", "", ",", ".", ";", "'s", "--"], len(tokens))
    tokens = np.char.add(tokens, punct)
    text_lines, pos, size = [], 0, 0
    for k in per_line:
        if size >= n_bytes:
            break
        text_lines.append(" ".join(tokens[pos:pos + k]))
        size += len(text_lines[-1]) + 1
        pos += k
    lines = len(text_lines)
    corpus = os.path.join(out, "corpus")
    os.makedirs(corpus)
    docs = []
    for f, chunk in enumerate(np.array_split(np.arange(lines), len(CORPUS_FILES))):
        body = text_lines[chunk[0]:chunk[-1] + 1]
        with open(os.path.join(corpus, f"pg-{CORPUS_FILES[f]}.txt"), "w") as fh:
            fh.write("\n".join(body) + "\n")
        for j in range(0, len(body), doc_lines):
            docs.append((CORPUS_FILES[f], "\n".join(body[j:j + doc_lines])))
    _write(out, "documents", {
        "doc_id": pa.array(np.arange(len(docs)), type=pa.int64()),
        "text": [t for _, t in docs],
        "lang": ["en"] * len(docs),
        "source": [s for s, _ in docs],
        "n_chars": pa.array([len(t) for _, t in docs], type=pa.int64())})


def generate(workload, seed, out):
    """Write the inputs of `workload` for `seed` into the empty dir `out`."""
    if workload not in WORKLOADS:
        raise ValueError(f"unknown workload {workload}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    rng = np.random.default_rng([seed, WORKLOADS.index(workload)])
    n = SIZES[workload]
    if workload == "mr_corpus":
        _corpus(rng, out, n["corpus_bytes"], n["doc_lines"])
        return
    if "lineitem" in n:
        _star(rng, out, n)
    if "events" in n:
        _events(rng, out, n["events"])
    if "documents" in n:
        _documents(rng, out, n["documents"])

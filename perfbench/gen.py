"""Seeded inputs of the benchmark workloads.

Every table is built with numpy from a seed, so the same seed gives the
same bytes, and written as one-row-group parquet with the fixture schemas
of FIXTURES.md (microsecond ``timestamp_ntz`` columns, ``float[64]``
embeddings):

* ``churn_events``: ``events`` at the sf0.1 sizes (100,000 events over
  1,500 users), with user ids relabelled by the seed.
* ``build_corpus``: a seeded word-soup corpus of 5,000 documents and an
  embedding set of 2,000 vectors, the sf0.1 fixture's counts (``vec_id``
  joins ``doc_id`` 1:1), with exact duplicates (case and
  outer-whitespace variants) and near duplicates planted at the fixture's
  measured shares, the near duplicates at graded distances, and graded
  neighbours of the ANN query vectors. The ground truth is written next to
  the tables as ``truth.json``.
* ``build_star``: a TPC-H-ish star schema at the sf0.1 sizes (600k
  lineitem, 150k orders) plus ``events`` and a corpus, from a fixed seed,
  for the registry's read-only query operators.
"""

from __future__ import annotations

import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENTS_SEED = 20240101
N_EVENTS = 100_000
N_USERS = 1_500
EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
_DAY_US = 86_400_000_000
_EPOCH_2024 = 1_704_067_200_000_000  # 2024-01-01T00:00:00 in µs

STAR_SEED = 42
N_DOCS = 5_000  # the sf0.1 fixture's documents and embeddings
N_VECS = 2_000
DIM = 64
# Duplicate shares measured on the sf0.1 fixture corpus (5,000 documents):
# 8 documents are exact copies of another (0.16%), and 243 are a near copy
# of another (4.86%; one word appended, Jaccard distance 0.01-0.2 over
# 3-word shingles).
EXACT_DUP_RATE = 8 / 5_000
NEAR_DUP_RATE = 243 / 5_000
# The planted near copies are graded instead: each is edited until its
# 3-shingle Jaccard distance reaches a target drawn uniformly from this
# range, which runs past raw_dedup_fuzzy's 0.6 threshold, so the pairs
# near the threshold are the ones a narrower MinHash-LSH misses.
NEAR_DUP_DIST = (0.3, 0.7)
ANN_QUERIES = 5  # raw_simsearch_ann probes vec_id < 5
# Neighbours planted per query, at these multiples of the query's natural
# nearest-neighbour distance (from below it to past it).
ANN_PLANTED = tuple(np.round(np.linspace(0.5, 1.4, 10), 2))
_VOCAB = (
    "batch part spark line column order small sort fast value scan a hash slow "
    "group agg filter query big key window row table stream merge data vector "
    "join shuffle task stage plan cache index page block file node disk"
).split()


def _write(path: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), path, row_group_size=1 << 30)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us"))


# ----------------------------------------------------------------- events

def churn_events(seed: int, out_path: str) -> None:
    """sf0.1-sized ``events`` (100,000 events over 1,500 users, uniform over
    2024-01-01..30, five event types, exponential values) drawn from a fixed
    seed, with every ``user_id`` mapped through a permutation of the user-id
    set drawn from ``seed``. The permutation is a bijection: every per-user
    aggregate, and so the feature matrix up to its keys, is the same for
    every seed, while the hash train/test split changes."""
    rng = np.random.default_rng(EVENTS_SEED)
    ts = np.sort(_EPOCH_2024 + rng.integers(0, 30 * _DAY_US, N_EVENTS))
    uid = rng.integers(0, N_USERS, N_EVENTS)
    etype = np.array(EVENT_TYPES)[rng.integers(0, 5, N_EVENTS)]
    value = np.round(rng.exponential(50.0, N_EVENTS), 2)
    props = [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)]
    perm = np.random.default_rng(seed).permutation(N_USERS).astype(np.int64)
    _write(out_path, {
        "event_id": np.arange(N_EVENTS, dtype=np.int64),
        "ts": _ts(ts),
        "user_id": perm[uid],
        "event_type": pa.array(etype),
        "value": value,
        "props": pa.array(props),
    })


# ------------------------------------------------------------ LLM corpus

def _norm_words(text: str) -> list[str]:
    """The engine's word split: ``split(lower(trim(text)), '\\s+')``."""
    return text.strip(" ").lower().split()


def _shingles(words: list[str]) -> set[str]:
    return {" ".join(words[i:i + 3]) for i in range(len(words) - 2)}


def _jaccard_dist(a: str, b: str) -> float:
    sa, sb = _shingles(_norm_words(a)), _shingles(_norm_words(b))
    return 1.0 - len(sa & sb) / len(sa | sb)


def _near_copy(rng, text: str, target: float) -> str:
    """Replace words at random positions with words no base document uses
    until the 3-shingle Jaccard distance to ``text`` reaches ``target``."""
    words = text.split()
    for pos in rng.permutation(len(words)):
        words[pos] = words[pos] + "x"
        near = " ".join(words)
        if _jaccard_dist(text, near) >= target:
            break
    return near


def _at_distance(rng, q: np.ndarray, r: float) -> np.ndarray:
    """A unit vector at L2 (chord) distance ``r`` from the unit vector ``q``."""
    u = rng.normal(0.0, 1.0, len(q))
    u -= (u @ q) * q
    u /= np.linalg.norm(u)
    theta = 2.0 * np.arcsin(r / 2.0)
    return np.cos(theta) * q + np.sin(theta) * u


def _write_corpus(out: str, seed: int) -> dict:
    rng = np.random.default_rng(seed)
    n_exact, n_near = round(EXACT_DUP_RATE * N_DOCS), round(NEAR_DUP_RATE * N_DOCS)
    n = N_DOCS - n_exact - n_near  # base documents; the planted copies fill up to N_DOCS
    base_len = rng.integers(10, 101, n)  # the fixture's 10..100 words
    texts = [" ".join(np.array(_VOCAB)[rng.integers(0, len(_VOCAB), k)]) for k in base_len]
    langs = np.array(["en", "en", "en", "de", "fr", "es", "zh"])[rng.integers(0, 7, n)]
    sources = np.char.add("src", rng.integers(0, 20, n).astype(str))

    # Plant duplicates on distinct source documents of 40 words or more
    # (long enough for the distance grading to be fine): one planted copy
    # per source, so the planted pairs are exactly the true pairs.
    long_docs = np.flatnonzero(np.array([len(t.split()) >= 40 for t in texts]))
    picks = rng.choice(long_docs, n_exact + n_near, replace=False)
    planted, pairs = [], []
    for j, src in enumerate(picks):
        t = texts[src]
        if j < n_exact:
            k = j % 3
            planted.append(t.upper() if k == 0 else t.title() if k == 1 else f"  {t} ")
        else:
            planted.append(_near_copy(rng, t, rng.uniform(*NEAR_DUP_DIST)))
        pairs.append((int(src), n + j))
    texts += planted
    lang_all = np.concatenate([langs, langs[picks]])
    src_all = np.concatenate([sources, sources[picks]])
    n_all = len(texts)
    _write(f"{out}/documents.parquet", {
        "doc_id": np.arange(n_all, dtype=np.int64),
        "text": pa.array(texts),
        "lang": pa.array(lang_all),
        "source": pa.array(src_all),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})

    # Exact-dedup ground truth for the curation pipeline's quality gate.
    gated_hashes = {
        hashlib.md5(t.strip(" ").lower().encode()).hexdigest()
        for t in texts
        if len(_norm_words(t)) >= 10 and len(t) >= 50
    }
    near_dist = [_jaccard_dist(texts[a], texts[b]) for a, b in pairs[n_exact:]]
    fuzzy_pairs = pairs[:n_exact] + [p for p, d in zip(pairs[n_exact:], near_dist) if d <= 0.6]

    # Embeddings: isotropic unit vectors with random labels, as in the
    # fixture (mean cosine 0 within and across its labels); each ANN query
    # gets its graded neighbours appended, up to N_VECS vectors.
    n_vec = N_VECS - ANN_QUERIES * len(ANN_PLANTED)
    label = rng.integers(0, 10, n_vec)
    vec = rng.normal(0.0, 1.0, (n_vec, DIM))
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    near, nn_dist = [], []
    for qi in range(ANN_QUERIES):
        q = vec[qi]
        d = np.linalg.norm(vec - q, axis=1)
        d[qi] = np.inf
        nn_dist.append(float(d.min()))
        near += [_at_distance(rng, q, f * d.min()) for f in ANN_PLANTED]
    emb = np.concatenate([vec, np.array(near)]).astype(np.float32)
    _write(f"{out}/embeddings.parquet", {
        "vec_id": np.arange(len(emb), dtype=np.int64),
        "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
        "label": np.concatenate([label, np.repeat(label[:ANN_QUERIES], len(ANN_PLANTED))])
        .astype(np.int32)})
    # Exact L2 top-10 per query in float64 over the float32 values, ties
    # broken by id, as raw_simsearch_ann ranks.
    e64 = emb.astype(np.float64)
    top10 = {}
    for qi in range(ANN_QUERIES):
        d2 = ((e64 - e64[qi]) ** 2).sum(axis=1)
        d2[qi] = np.inf
        order = np.lexsort((np.arange(len(d2)), d2))[:10]
        top10[qi] = [int(i) for i in order]
    truth = {
        "n_docs": n_all,
        "n_vectors": len(emb),
        "exact_dup_planted": n_exact,
        "near_dup_planted": n_near,
        "near_dup_dist": near_dist,
        "survivors": len(gated_hashes),
        "fuzzy_pairs": fuzzy_pairs,
        "ann_nn_dist": nn_dist,
        "ann_top10": top10,
        "ann_top10_planted": sum(i >= n_vec for ns in top10.values() for i in ns),
    }
    with open(f"{out}/truth.json", "w") as f:
        json.dump(truth, f)
    return truth


def build_corpus(out: str, seed: int) -> dict:
    done = os.path.join(out, "truth.json")
    if not os.path.exists(done):
        os.makedirs(out, exist_ok=True)
        _write_corpus(out, seed)
    with open(done) as f:
        return json.load(f)


# ------------------------------------------------------------ star schema

def _days(rng, lo: str, hi: str, n: int) -> np.ndarray:
    a, b = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    d = a + rng.integers(0, int((b - a).astype(int)) + 1, n).astype("timedelta64[D]")
    return d.astype("datetime64[us]").astype(np.int64)


def build_star(out: str) -> None:
    """Every fixture table at the sf0.1 sizes and with the fixture's value
    domains, from a fixed seed: the star schema, ``events``, and a corpus,
    so that the oracle harness, which opens them all, can run here."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(STAR_SEED)
    names = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    _write(f"{out}/region.parquet", {
        "r_regionkey": np.arange(5, dtype=np.int32), "r_name": pa.array(names)})
    _write(f"{out}/nation.parquet", {
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": (np.arange(25) % 5).astype(np.int32)})
    n_cust, n_supp, n_part, n_ord = 15_000, 1_000, 20_000, 150_000
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    _write(f"{out}/customer.parquet", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": pa.array(segs[rng.integers(0, 5, n_cust)])})
    _write(f"{out}/supplier.parquet", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})
    adj = np.array(["large", "hot", "small", "red", "cold", "blue"])
    noun = np.array(["ring", "bolt", "gear", "pipe", "nut", "valve"])
    types = np.array(["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"])
    _write(f"{out}/part.parquet", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": pa.array(np.char.add(np.char.add(adj[rng.integers(0, 6, n_part)], " "),
                                       noun[rng.integers(0, 6, n_part)])),
        "p_brand": pa.array(np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str))),
        "p_type": pa.array(types[rng.integers(0, 6, n_part)]),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + np.arange(n_part) % 20_000 * 0.1, 2)})
    odate = _days(rng, "1995-01-01", "2001-08-01", n_ord)
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    _write(f"{out}/orders.parquet", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)]),
        "o_totalprice": np.round(rng.uniform(1000.0, 500_000.0, n_ord), 2),
        "o_orderdate": _ts(odate),
        "o_orderpriority": pa.array(prio[rng.integers(0, 5, n_ord)])})
    # 1..7 lines per order (mean 4): about 600k lineitems, shipped 1..121
    # days after the order date.
    lines = rng.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    n_li = len(okey)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    _write(f"{out}/lineitem.parquet", {
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": (np.arange(n_li) - starts + 1).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_li)]),
        "l_shipdate": _ts(odate[okey] + rng.integers(1, 122, n_li) * _DAY_US)})
    churn_events(STAR_SEED, f"{out}/events.parquet")
    _write_corpus(out, STAR_SEED)

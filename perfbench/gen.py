"""Seeded input generators for the benchmark.

Every generator takes a ``numpy.random.Generator`` (or a seed) and is a
pure function of it: the same seed writes byte-identical parquet files.
The engine only ever sees what these functions write.

- :func:`write_star` writes the ten catalog tables (TPC-H-shaped star
  schema plus ``events``, ``documents`` and ``embeddings``) with the
  column names and types ``palo_spark.catalog`` expects.
- :func:`accounts_batch` and :func:`sales_batch` make the dashboard's
  upsert batches: a mix of updates to live keys and brand-new keys.
- :func:`corpus` makes a document corpus with planted exact and near
  duplicates, plus one embedding per document.
"""

from __future__ import annotations

import datetime as _dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
_ADJ = ["blue", "hot", "large", "small", "red", "cold", "green", "fast"]
_NOUN = ["ring", "bolt", "nut", "gear", "pipe", "valve", "screw", "cable"]
#: document vocabulary: the fixture word soup plus enough English
#: stopwords that quality/Gopher filters keep most documents
VOCAB = (
    "batch part spark line column order small sort value scan hash slow "
    "fast group agg filter query big key window row table stream merge "
    "data join vector customer the a and of to in is that for with on "
    "by it this be as are from at"
).split()

#: the fact table spans these order dates (days since the epoch)
ORDER_DAY_LO = (_dt.date(1995, 1, 1) - _dt.date(1970, 1, 1)).days
ORDER_DAY_HI = (_dt.date(2001, 8, 1) - _dt.date(1970, 1, 1)).days
_MS_PER_DAY = 86_400_000


def rng_for(seed: int, stream: str) -> np.random.Generator:
    """Independent deterministic stream per (seed, purpose)."""
    key = [seed & 0xFFFFFFFF] + [ord(c) for c in stream]
    return np.random.default_rng(np.random.SeedSequence(key))


def _write(tbl: pa.Table, path: str) -> int:
    pq.write_table(tbl, path, compression="snappy", row_group_size=1 << 20)
    return os.path.getsize(path)


def _ts(days: np.ndarray) -> pa.Array:
    return pa.array(days.astype(np.int64) * _MS_PER_DAY, pa.timestamp("ms"))


def _round2(x: np.ndarray) -> np.ndarray:
    return np.round(x, 2)


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def star_sizes(sf: float) -> dict[str, int]:
    """Row counts per table at scale factor ``sf`` (lineitem = 6M x sf)."""
    return {
        "region": 5,
        "nation": 25,
        "customer": max(150, int(150_000 * sf)),
        "supplier": max(10, int(10_000 * sf)),
        "part": max(200, int(200_000 * sf)),
        "orders": max(1_500, int(1_500_000 * sf)),
        "lineitem": max(6_000, int(6_000_000 * sf)),
        "events": max(1_000, int(1_000_000 * sf)),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def documents_table(rng: np.random.Generator, n: int) -> pa.Table:
    """``n`` word-soup documents (15-90 words) with lang/source tags."""
    n_words = rng.integers(15, 91, n)
    words = rng.integers(0, len(VOCAB), int(n_words.sum()))
    texts, pos = [], 0
    for k in n_words:
        texts.append(" ".join(VOCAB[w] for w in words[pos:pos + k]))
        pos += k
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([LANGS[i] for i in rng.integers(0, 5, n)], pa.string()),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 4, n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def embeddings_table(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    vecs = rng.standard_normal((n, dim)).astype(np.float32) * np.float32(0.1)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(vecs.ravel(), pa.float32()), dim
        ).cast(pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32), pa.int32()),
    })


def write_star(seed: int, sf: float, out_dir: str) -> dict[str, int]:
    """Write the ten catalog tables as ``<out_dir>/<name>.parquet``.

    Returns bytes written per table."""
    os.makedirs(out_dir, exist_ok=True)
    rng = rng_for(seed, "star")
    n = star_sizes(sf)
    sizes: dict[str, int] = {}

    def put(name: str, cols: dict) -> None:
        sizes[name] = _write(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))

    put("region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS),
    })
    put("nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
    })
    nc = n["customer"]
    put("customer", {
        "c_custkey": pa.array(np.arange(nc, dtype=np.int64)),
        "c_name": pa.array(_names("Customer", nc)),
        "c_nationkey": pa.array(rng.integers(0, 25, nc).astype(np.int32)),
        "c_acctbal": pa.array(_round2(rng.uniform(-999.99, 9999.99, nc))),
        "c_mktsegment": pa.array([SEGMENTS[i] for i in rng.integers(0, 5, nc)]),
    })
    ns = n["supplier"]
    put("supplier", {
        "s_suppkey": pa.array(np.arange(ns, dtype=np.int64)),
        "s_name": pa.array(_names("Supplier", ns)),
        "s_nationkey": pa.array(rng.integers(0, 25, ns).astype(np.int32)),
        "s_acctbal": pa.array(_round2(rng.uniform(-999.99, 9999.99, ns))),
    })
    npart = n["part"]
    price = _round2(900.0 + (np.arange(npart) % 2000) * 0.1)
    put("part", {
        "p_partkey": pa.array(np.arange(npart, dtype=np.int64)),
        "p_name": pa.array([
            f"{_ADJ[a]} {_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))
        ]),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, npart)]),
        "p_type": pa.array([PART_TYPES[i] for i in rng.integers(0, 6, npart)]),
        "p_size": pa.array(rng.integers(1, 51, npart).astype(np.int32)),
        "p_retailprice": pa.array(price),
    })
    no = n["orders"]
    odate = rng.integers(ORDER_DAY_LO, ORDER_DAY_HI + 1, no)
    put("orders", {
        "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, nc, no).astype(np.int64)),
        "o_orderstatus": pa.array([("F", "O", "P")[i] for i in rng.integers(0, 3, no)]),
        "o_totalprice": pa.array(_round2(rng.uniform(1000.0, 450000.0, no))),
        "o_orderdate": _ts(odate),
        "o_orderpriority": pa.array([PRIORITIES[i] for i in rng.integers(0, 5, no)]),
    })
    nl = n["lineitem"]
    okey = np.sort(rng.integers(0, no, nl)).astype(np.int64)
    pkey = rng.integers(0, npart, nl).astype(np.int64)
    qty = rng.integers(1, 51, nl).astype(np.float64)
    linenum = np.zeros(nl, dtype=np.int32)
    starts = np.r_[0, np.flatnonzero(np.diff(okey)) + 1]
    counts = np.diff(np.r_[starts, nl])
    linenum[:] = np.arange(nl) - np.repeat(starts, counts) + 1
    put("lineitem", {
        "l_orderkey": pa.array(okey),
        "l_partkey": pa.array(pkey),
        "l_suppkey": pa.array(rng.integers(0, ns, nl).astype(np.int64)),
        "l_linenumber": pa.array(linenum),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(_round2(qty * price[pkey])),
        "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
        "l_returnflag": pa.array([("A", "N", "R")[i] for i in rng.integers(0, 3, nl)]),
        "l_linestatus": pa.array([("F", "O")[i] for i in rng.integers(0, 2, nl)]),
        "l_shipdate": _ts(odate[okey] + rng.integers(1, 122, nl)),
    })
    ne = n["events"]
    put("events", {
        "event_id": pa.array(np.arange(ne, dtype=np.int64)),
        "ts": pa.array(
            np.int64(1_704_067_200) * 10**9
            + np.sort(rng.integers(0, 86_400 * 90, ne)).astype(np.int64) * 10**9,
            pa.timestamp("ns"),
        ),
        "user_id": pa.array(rng.integers(0, max(10, ne // 50), ne).astype(np.int64)),
        "event_type": pa.array([EVENT_TYPES[i] for i in rng.integers(0, 5, ne)]),
        "value": pa.array(_round2(rng.uniform(0, 100, ne))),
        "props": pa.array([f'{{"k": {i}}}' for i in rng.integers(0, 100, ne)]),
    })
    sizes["documents"] = _write(
        documents_table(rng, n["documents"]), os.path.join(out_dir, "documents.parquet")
    )
    sizes["embeddings"] = _write(
        embeddings_table(rng, n["embeddings"]), os.path.join(out_dir, "embeddings.parquet")
    )
    return sizes


# ------------------------------------------------------------ dashboard

#: dashboard tables: a UNIQUE-KEY account table and an AGGREGATE-KEY
#: daily-sales table keyed by (sale_day, nation_key). Money is integer
#: cents, so sums are exact in every engine and in the client's model.
ACCOUNTS_DDL = (
    "CREATE TABLE accounts (`c_custkey` BIGINT, `c_nationkey` INT, "
    "`balance_cents` BIGINT, `tier` VARCHAR(16), `updated_day` INT) "
    "UNIQUE KEY(c_custkey) DISTRIBUTED BY HASH(c_custkey) BUCKETS 4"
)
ACCOUNTS_SCHEMA = (
    "c_custkey bigint, c_nationkey int, balance_cents bigint, tier string, "
    "updated_day int"
)
SALES_DDL = (
    "CREATE TABLE daily_sales (`sale_day` INT, `nation_key` INT, "
    "`revenue_cents` BIGINT SUM, `orders` BIGINT SUM, `max_order_cents` BIGINT MAX) "
    "AGGREGATE KEY(sale_day, nation_key) DISTRIBUTED BY HASH(sale_day) BUCKETS 4"
)
SALES_SCHEMA = (
    "sale_day int, nation_key int, revenue_cents bigint, orders bigint, "
    "max_order_cents bigint"
)
TIERS = ["bronze", "silver", "gold", "platinum"]
#: days the sales table covers
SALE_DAYS = 60


def accounts_batch(
    rng: np.random.Generator, live_keys: int, rows: int, update_share: float,
) -> list[tuple]:
    """Account upserts: ``update_share`` of the rows update keys in
    ``[0, live_keys)``, the rest add keys ``live_keys, live_keys+1, ...``.
    Keys are unique within the batch (the UNIQUE model resolves
    in-batch duplicates arbitrarily, which no model could check)."""
    n_upd = min(int(rows * update_share), live_keys)
    upd = rng.choice(live_keys, n_upd, replace=False) if n_upd else np.zeros(0, np.int64)
    keys = np.concatenate([upd, np.arange(live_keys, live_keys + rows - n_upd)])
    bal = rng.integers(-50_000, 2_000_000, rows)
    tier = rng.integers(0, 4, rows)
    day = rng.integers(0, SALE_DAYS, rows)
    return [
        (int(k), int(k % 25), int(b), TIERS[t], int(d))
        for k, b, t, d in zip(keys, bal, tier, day)
    ]


def sales_batch(rng: np.random.Generator, rows: int) -> list[tuple]:
    """Sales deltas; keys may repeat, the AGGREGATE model merges them."""
    return [
        (int(d), int(n), int(r), int(o), int(m))
        for d, n, r, o, m in zip(
            rng.integers(0, SALE_DAYS, rows), rng.integers(0, 25, rows),
            rng.integers(100, 5_000_000, rows), rng.integers(1, 20, rows),
            rng.integers(100, 2_000_000, rows),
        )
    ]


# --------------------------------------------------------------- corpus

#: planted duplicate rates of the generated corpus
EXACT_DUP_RATE = 0.10
NEAR_DUP_RATE = 0.10
PII_RATE = 0.20


def corpus(seed: int, n_docs: int, dim: int = 64) -> tuple[pa.Table, pa.Table, dict]:
    """Corpus of ``n_docs`` documents with planted duplicates.

    ``EXACT_DUP_RATE`` of the documents are verbatim copies of an
    earlier base document; ``NEAR_DUP_RATE`` are copies with one word
    replaced (shingle Jaccard of the pair stays above 0.8 for the
    40-90 word bases they are drawn from). ``PII_RATE`` of the bases
    carry an email or phone number. Returns (documents, embeddings,
    planted) where ``planted`` records the duplicate structure the
    checks use: ``group[doc_id]`` is the base document it came from."""
    rng = rng_for(seed, "corpus")
    n_exact = int(n_docs * EXACT_DUP_RATE)
    n_near = int(n_docs * NEAR_DUP_RATE)
    n_base = n_docs - n_exact - n_near
    base = documents_table(rng, n_base).column("text").to_pylist()
    base = [
        t + (f" contact user{i}@example.com" if i % 2 else f" call +1 555 010 {i % 10000:04d}")
        if rng.random() < PII_RATE else t
        for i, t in enumerate(base)
    ]
    # near duplicates come from long bases only (>= 40 words), so a
    # one-word edit keeps the 5-shingle Jaccard well above threshold
    long_bases = np.array([i for i, t in enumerate(base) if len(t.split()) >= 40])
    exact_src = rng.integers(0, n_base, n_exact)
    near_src = long_bases[rng.integers(0, len(long_bases), n_near)]
    near = []
    for j, s in enumerate(near_src):
        w = base[s].split()
        k = int(rng.integers(len(w) // 3, 2 * len(w) // 3))
        w[k] = f"edit{j}"
        near.append(" ".join(w))
    texts = base + [base[s] for s in exact_src] + near
    groups = list(range(n_base)) + [int(s) for s in exact_src] + [int(s) for s in near_src]
    order = rng.permutation(n_docs)
    texts = [texts[i] for i in order]
    docs = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([LANGS[i] for i in rng.integers(0, 5, n_docs)], pa.string()),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 4, n_docs)], pa.string()),
    })
    emb = embeddings_table(rng, n_docs, dim)
    planted = {
        "n_docs": n_docs,
        "n_exact": n_exact,
        "n_near": n_near,
        #: base document each doc_id was derived from
        "group": [groups[i] for i in order],
    }
    return docs, emb, planted

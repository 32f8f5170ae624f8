"""Seeded input generator for the graft benchmark.

Every workload reads its own directory of parquet tables in the shapes the
engine's queries expect (`orders`, `documents`, `embeddings`), plus `dead_urls.json`, the
share of the fetch list the traced run sends to the loopback server that
the server does not hold. The same seed gives byte-identical files; the
properties the engine's behaviour depends on (holdings skew, near-duplicate
share) are fixed per workload and recorded in `inputs.json` next to the
tables.
"""
import json
import zlib
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Input sizes per workload. One pass takes 2-4 s on four cores, most of it
# per-query Spark overhead; larger inputs would leave too few passes per run.
#
# Where the engine's test tables (scale factors 0.01 and 0.1) show a
# property, the generator copies it; each value says where it comes from:
# - 10 holdings per fund on average, every fund holding at least one: sf0.1
#   orders has 150,000 orders over 15,000 customers (10.0 each, min 1; the
#   same at sf0.01).
# - zipf_s: the test tables have no per-customer skew (sd 3.2 orders, max
#   24), and no holdings-per-fund data of real N-PORT filings is in the
#   repository. The skew is there so the slowest extract task shows; its
#   exponent is a chosen value, not a measured one.
# - dead_url_share: chosen, not measured; only the traced fetch uses it.
# - near_dup_share 0.05: the test tables' near-duplicates are an earlier
#   document's text plus the token "dup", found by d_neardup_pairs' oracle
#   in 24 of 500 (sf0.01) and 244 of 5,000 (sf0.1) documents.
# - 10 to 100 words per document, the language mix and 20 sources: measured
#   on sf0.1 documents.
# - embeddings: 64-dim unit vectors, 10 labels of about equal size; the test
#   tables' vectors have no cluster structure beyond chance (cosine to the
#   own label's centroid is 0.146 at 500 and 0.071 at 2,000 vectors, what
#   independent random vectors give), and neither do these.
SIZES = {
    "nport_batch": {"orders": 12000, "funds": 1200, "zipf_s": 0.7,
                    "dead_url_share": 0.1},
    "train_pack": {"docs": 1500, "near_dup_share": 0.05,
                   "vectors": 500, "dim": 64, "labels": 10},
}

VOCAB = ("join hash row batch scan column customer filter small slow merge "
         "order vector line data table agg value key stream window a spark "
         "part group big sort query fast the").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]  # sf0.1: 2059, 702, 744, 742, 753 of 5,000
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]

# Schema metadata is dropped, so the bytes depend only on the table contents
# (and the pyarrow version).
_WRITE = dict(compression="snappy", write_statistics=True)


def _write(table: pa.Table, path: Path) -> None:
    pq.write_table(table.replace_schema_metadata(None), path, **_WRITE)


def zipf_keys(rng: np.random.Generator, n_items: int, n_keys: int, s: float) -> np.ndarray:
    """Key of each of `n_items` items under a Zipf(s) law over `n_keys`
    keys: the key at rank r holds a fixed share proportional to 1/r^s, the
    same for every seed; which key holds which rank, and the item order,
    are seeded."""
    w = 1.0 / np.arange(1, n_keys + 1) ** s
    counts = np.floor(n_items * w / w.sum()).astype(np.int64)
    counts[: n_items - counts.sum()] += 1
    return rng.permutation(np.repeat(rng.permutation(n_keys), counts))


def orders(rng: np.random.Generator, n: int, funds: int, s: float) -> pa.Table:
    """The orders-shaped table the filing corpus is rendered from: one
    filing per fund (o_custkey), one holding per order, so a Zipf law over
    custkeys gives a Zipf number of holdings per filing."""
    cust = zipf_keys(rng, n, funds, s).astype(np.int64)
    day0 = np.datetime64("1995-01-01", "us")
    days = rng.integers(0, 2400, size=n)
    return pa.table({
        "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
        "o_custkey": pa.array(cust),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], size=n).tolist()),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, size=n), 2)),
        "o_orderdate": pa.array(day0 + days.astype("timedelta64[D]"), pa.timestamp("us")),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, size=n).tolist()),
    })


def documents(rng: np.random.Generator, n: int, dup_share: float) -> pa.Table:
    """Word-salad documents over a small vocabulary; exactly a `dup_share`
    of them are near-duplicates of an earlier document (its text plus one
    token)."""
    texts = []
    dup = np.zeros(n, dtype=bool)
    dup[rng.choice(np.arange(1, n), size=round(dup_share * n), replace=False)] = True
    for i in range(n):
        if dup[i]:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(rng.choice(VOCAB, size=k).tolist()))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, size=n, p=LANG_P).tolist()),
        "source": pa.array([f"src{j}" for j in rng.integers(0, 20, size=n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def embeddings(rng: np.random.Generator, n: int, dim: int, labels: int) -> pa.Table:
    """Unit vectors drawn uniformly on the sphere, each with a uniform label."""
    v = rng.standard_normal((n, dim)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, labels, size=n).astype(np.int32)),
    })


def generate(workload: str, seed: int, out: Path) -> dict:
    """Writes `workload`'s inputs for `seed` into `out`; returns the
    recorded input properties (also written to `out/inputs.json`)."""
    size = SIZES[workload]
    # the workload name salts the stream, so workloads draw independently
    rng = np.random.default_rng([seed, zlib.crc32(workload.encode())])
    out.mkdir(parents=True, exist_ok=True)
    props = {"workload": workload, "seed": seed, **size}
    if "orders" in size:
        t = orders(rng, size["orders"], size["funds"], size["zipf_s"])
        _write(t, out / "orders.parquet")
        per_fund = np.bincount(t["o_custkey"].to_numpy(), minlength=size["funds"])
        props["funds_with_holdings"] = int((per_fund > 0).sum())
        # the one-file-per-doc corpus the engine stages holds even doc ids
        props["staged_docs"] = int((per_fund[::2] > 0).sum())
        props["max_holdings_per_fund"] = int(per_fund.max())
    if "dead_url_share" in size:
        # the served corpus holds even doc ids only; an odd id names a
        # filing the server does not hold
        n_dead = int(round(size["dead_url_share"] * props["staged_docs"]))
        dead = sorted(int(x) for x in rng.choice(
            np.arange(1, 2 * size["funds"], 2), size=n_dead, replace=False))
        (out / "dead_urls.json").write_text(json.dumps(dead))
        props["dead_urls"] = n_dead
    if "docs" in size:
        t = documents(rng, size["docs"], size["near_dup_share"])
        _write(t, out / "documents.parquet")
        props["near_dups"] = sum(1 for x in t["text"].to_pylist() if x.endswith(" dup"))
    if "vectors" in size:
        _write(embeddings(rng, size["vectors"], size["dim"], size["labels"]),
               out / "embeddings.parquet")
    props["bytes"] = sum(p.stat().st_size for p in out.glob("*.parquet"))
    (out / "inputs.json").write_text(json.dumps(props, sort_keys=True))
    return props

"""Seeded input generation for the benchmark workloads.

Every input is a pure function of (workload, seed, size): the same seed
always gives the same files. Generation runs in the calling process.
Page inputs are built with the engine's own construction-first
generator (document_ai_spark.datagen), so each page
carries a golden main text fixed before the extractor ever sees it.
Generated sets are cached under the checkout, keyed by workload, seed,
size and GEN_VERSION; bump GEN_VERSION whenever the output of this module
changes.
"""

from __future__ import annotations

import json
import os
import random
import shutil
from dataclasses import replace
from datetime import timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GEN_VERSION = 7

# Page-workload sizes. "tiny" exists for the self-test only.
SIZES = {
    "full": {
        "old_docs": 1500,
        "added_docs": 800,
        # past DRIVER_CC_MAX_EDGES (1e6 directed edges): the hot cluster
        # alone yields 1001*1000 of them, so the distributed side fires
        "hot_cluster": 1001,
        "registry_scale": 1.0,
    },
    "tiny": {
        "old_docs": 200,
        "added_docs": 100,
        "hot_cluster": 50,
        "registry_scale": 0.1,
    },
}

PAGES_ROW_GROUP = 128

# pipeline_recrawl plan: shares of the first crawl and the planted clusters
REMOVED_FRAC = 0.05
CHANGED_FRAC = 0.05
TWICE_FRAC = 0.02
N_EXACT_CLUSTERS = 20
EXACT_CLUSTER_SIZE = 4
N_NEAR_CLUSTERS = 20

_RECRAWL_SHIFT = timedelta(days=30)


def _pages_table(rows) -> pa.Table:
    return pa.table(
        {
            "url": [r.url for r in rows],
            "warc_ts": pa.array(
                [r.warc_ts for r in rows], type=pa.timestamp("us", tz="UTC")
            ),
            "html": pa.array([r.html for r in rows], type=pa.binary()),
            "text": [r.text for r in rows],
            "lang": [r.lang for r in rows],
        }
    )


def _golden_table(rows) -> pa.Table:
    return pa.table(
        {
            "url": [r.url for r in rows],
            "warc_ts": pa.array(
                [r.warc_ts for r in rows], type=pa.timestamp("us", tz="UTC")
            ),
            "expected_text": pa.array(
                [r.expected_text for r in rows], type=pa.string()
            ),
            "expected_parse_ok": [r.expected_parse_ok for r in rows],
        }
    )


# ------------------------------------------------------------ recrawl


def _near_copy(row, url: str, tail: str):
    """Copy of a clean page whose article gains one trailing word."""
    html = row.html.decode("utf-8")
    cut = html.rindex("</p></article>")
    html = html[:cut] + " " + tail + html[cut:]
    return replace(row, url=url, html=html.encode("utf-8"),
                   expected_text=row.expected_text + " " + tail)


def _gen_pipeline_recrawl(out_dir: str, seed: int, size: dict) -> dict:
    """A first crawl and a second crawl of the same sites.

    The second crawl drops REMOVED_FRAC of the urls, rewrites
    CHANGED_FRAC of them, adds `added_docs` new pages plus planted
    exact-duplicate, near-duplicate and one hot duplicate cluster, and
    carries TWICE_FRAC of urls twice (a recrawl within one snapshot).
    The planted status counts are what crawl_diff must report."""
    from document_ai_spark.datagen import CASE_CLEAN, gen_rows
    from document_ai_spark.kernel.extract import extract_document

    rng = random.Random(seed)
    n_old, n_add = size["old_docs"], size["added_docs"]
    old = gen_rows(n_old, seed=seed, clean_paras=(2, 5))
    idx = list(range(n_old))
    rng.shuffle(idx)
    n_removed = int(n_old * REMOVED_FRAC)
    n_changed = int(n_old * CHANGED_FRAC)
    rest = idx[n_removed:]
    changed, fresh = [], {}
    for i in rest:
        if len(changed) == n_changed:
            break
        # an unparseable PDF is the same bytes under every seed
        f = gen_rows(1, seed=seed + 7919, start=i, clean_paras=(2, 5))[0]
        if f.html != old[i].html:
            changed.append(i)
            fresh[i] = f
    twice_changed = set(changed[: max(1, int(n_old * TWICE_FRAC) // 2)])
    kept_same = [i for i in rest if i not in fresh]
    twice_same = set(kept_same[: max(1, int(n_old * TWICE_FRAC) // 2)])

    def later(r, hours: int = 0):
        return replace(r, warc_ts=r.warc_ts + _RECRAWL_SHIFT
                       + timedelta(hours=hours))

    new = []
    for i in kept_same:
        new.append(later(old[i]))
        if i in twice_same:
            new.append(later(old[i], hours=1))
    for i in changed:
        if i in twice_changed:
            new.append(later(old[i]))
        new.append(later(fresh[i], hours=2))

    added = gen_rows(n_add, seed=seed, start=n_old, clean_paras=(2, 5))
    new.extend(later(r) for r in added)
    clean = [r for r in added if r.case == CASE_CLEAN]
    rng.shuffle(clean)
    next_id = n_old + n_add
    planted = []
    exact_clusters = []
    for src in clean[:N_EXACT_CLUSTERS]:
        members = [src.url]
        for _ in range(EXACT_CLUSTER_SIZE - 1):
            url = f"https://mirror-{next_id % 13}.example/c/{next_id}"
            next_id += 1
            planted.append(replace(src, url=url))
            members.append(url)
        exact_clusters.append(members)
    for src in clean[N_EXACT_CLUSTERS:N_EXACT_CLUSTERS + N_NEAR_CLUSTERS]:
        url = f"https://mirror-{next_id % 13}.example/n/{next_id}"
        next_id += 1
        planted.append(_near_copy(src, url, rng.choice(["updated", "edit"])))
    hot_src = clean[N_EXACT_CLUSTERS + N_NEAR_CLUSTERS]
    hot = [hot_src.url]
    for _ in range(size["hot_cluster"] - 1):
        url = f"https://spam-{next_id % 7}.example/h/{next_id}"
        next_id += 1
        planted.append(replace(hot_src, url=url))
        hot.append(url)
    exact_clusters.append(hot)
    for r in planted:
        if r.expected_text != extract_document(r.html).main_text:
            raise RuntimeError(f"planted page {r.url} breaks its golden")
    new.extend(later(r) for r in planted)

    pq.write_table(_pages_table(old), os.path.join(out_dir, "old.parquet"),
                   row_group_size=PAGES_ROW_GROUP)
    pq.write_table(_pages_table(new), os.path.join(out_dir, "new.parquet"),
                   row_group_size=PAGES_ROW_GROUP)
    pq.write_table(_golden_table(new),
                   os.path.join(out_dir, "golden.parquet"))
    plan = {
        "added": n_add + len(planted),
        "changed": len(changed),
        "removed": n_removed,
        "unchanged": len(kept_same),
        # the urls the incremental stage must hand to extraction
        "delta_urls": sorted(
            {old[i].url for i in changed}
            | {r.url for r in added} | {r.url for r in planted}),
        "exact_clusters": exact_clusters,
    }
    with open(os.path.join(out_dir, "plan.json"), "w") as f:
        json.dump(plan, f)
    return {"old_pages": len(old), "new_pages": len(new)}


# ----------------------------------------------------------- registry

_DOC_WORDS = (
    "join hash row batch scan column customer filter small slow merge "
    "order vector line table data agg value key stream window a spark "
    "part group big sort query fast the"
).split()
_P_ADJ = "blue cold hot large new old red small".split()
_P_NOUN = "anvil bolt gear gizmo plate ring rod widget".split()


def _registry_tables(rng: np.random.Generator, scale: float) -> dict:
    """TPC-H-like star schema plus events/documents/embeddings. Row
    counts (x scale), key cardinalities, value ranges, category sets and
    text shape follow the measured statistics of the registry's sf0.01
    reference tables: lineitem rows pick their order and line number
    independently, so orders without lines and repeated (order, line)
    pairs occur as they do there."""
    n_cust = int(1500 * scale)
    n_supp = max(10, int(100 * scale))
    n_part = int(2000 * scale)
    n_ord = int(15000 * scale)
    n_li = int(60000 * scale)
    n_events = int(10000 * scale)
    n_docs = max(50, int(500 * scale))
    n_emb = max(50, int(500 * scale))
    day = np.timedelta64(1, "D")
    t0 = np.datetime64("1995-01-01", "us")

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    region = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    nation = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    customer = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(
            ["HOUSEHOLD", "MACHINERY", "FURNITURE", "BUILDING",
             "AUTOMOBILE"], n_cust).tolist(),
    })
    supplier = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(-999.99, 9999.99, n_supp),
    })
    part = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(_P_ADJ, n_part),
                                              rng.choice(_P_NOUN, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["ECONOMY", "SMALL", "MEDIUM", "PROMO",
                              "STANDARD", "LARGE"], n_part).tolist(),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + np.arange(n_part) % 1000 * 0.1, 2),
    })
    orders = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["P", "F", "O"], n_ord).tolist(),
        "o_totalprice": money(1000, 500000, n_ord),
        "o_orderdate": t0 + rng.integers(0, 2405, n_ord) * day,
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
            n_ord).tolist(),
    })
    lineitem = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": money(900, 105000, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li).tolist(),
        "l_linestatus": rng.choice(["F", "O"], n_li).tolist(),
        "l_shipdate": t0 + rng.integers(1, 2500, n_li) * day,
    })
    ev_ts = np.datetime64("2024-01-01", "us") + np.sort(
        rng.integers(0, 30 * 86400 * 10**6, n_events)
    ) * np.timedelta64(1, "us")
    events = pa.table({
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": ev_ts,
        "user_id": rng.integers(0, 150, n_events),
        "event_type": rng.choice(["signup", "error", "click", "view",
                                  "purchase"], n_events).tolist(),
        "value": np.maximum(0.01, np.round(rng.exponential(50, n_events),
                                           2)),
        "props": [json.dumps({"k": int(k)})
                  for k in rng.integers(0, 100, n_events)],
    })
    texts = []
    for i in range(n_docs):
        if i >= 10 and rng.random() < 0.05:
            # near duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(
                rng.choice(_DOC_WORDS, int(rng.integers(10, 100)))))
    documents = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["en", "en", "en", "de", "fr", "es", "zh"],
                           n_docs).tolist(),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    emb = rng.normal(size=(n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    embeddings = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
    })
    return {
        "region": region, "nation": nation, "customer": customer,
        "supplier": supplier, "part": part, "orders": orders,
        "lineitem": lineitem, "events": events, "documents": documents,
        "embeddings": embeddings,
    }


def _gen_registry(out_dir: str, seed: int, size: dict) -> dict:
    tables = _registry_tables(np.random.default_rng(seed),
                              size["registry_scale"])
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


GENERATORS = {
    "pipeline_recrawl": _gen_pipeline_recrawl,
    "registry": _gen_registry,
}


# input sets kept in the cache; every seed is a new set, so older ones go
KEEP_CACHED = 4


def _evict(cache_root: str) -> None:
    sets = sorted(
        (os.path.getmtime(p), p)
        for p in (os.path.join(cache_root, x) for x in os.listdir(cache_root))
        if os.path.exists(os.path.join(p, "_DONE"))
    )
    for _, p in sets[:-KEEP_CACHED]:
        shutil.rmtree(p, ignore_errors=True)


def generate(workload: str, seed: int, size: str,
             cache_root: str) -> tuple[str, dict]:
    """Return (input_dir, stats), generating into the cache on a miss and
    evicting all but the KEEP_CACHED newest sets."""
    key = f"{workload}-s{seed}-{size}-v{GEN_VERSION}"
    out = os.path.join(cache_root, key)
    done = os.path.join(out, "_DONE")
    if os.path.exists(done):
        with open(done) as f:
            return out, json.load(f)
    tmp = out + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    try:
        stats = GENERATORS[workload](tmp, seed, SIZES[size])
        with open(os.path.join(tmp, "_DONE"), "w") as f:
            json.dump(stats, f)
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    _evict(cache_root)
    return out, stats

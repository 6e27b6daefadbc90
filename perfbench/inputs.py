"""Seeded input generators. The same seed always gives the same inputs, and
the program under test only ever sees what these functions write."""

from __future__ import annotations

import random

from genesis_spark import conf
from genesis_spark.functions import urls as U
from genesis_spark.functions.hashing import xxh64
from genesis_spark.sources import fixtures


def _bucket(host_key: str) -> int:
    """The politeness bucket the bucketed install ranks ``host_key`` in:
    pmod(xxhash64(host_key), POLITENESS_BUCKETS)."""
    return xxh64(host_key) % conf.POLITENESS_BUCKETS


def crawl_graph(seed: int, target_rows: int, clearnet: int):
    """(seeds, pages, golden) for a bucketed crawl with a fixed shape.

    ``fixtures.generate`` builds the web graph and ``oracle.run`` crawls it.
    Every clearnet seed has host key ``example`` and so lands in one
    politeness bucket; from the other hosts, in generation order (hub hosts
    first), the benchmark keeps those that own a bucket alone, as long as
    the crawl-order rows stay within ``target_rows``. With a per-bucket
    budget of 1 every seed then gives one large round followed by
    ``clearnet - 1`` single-task rounds, and about the same number of rows.
    Invalid and duplicate raw seeds are kept: install must drop and merge
    them. Hosts are crawled independently, so the golden of the kept seeds
    is the oracle's result restricted to their hosts."""
    from genesis_spark.crawler import oracle

    seeds, pages = fixtures.generate(target_rows // 8, 2, clearnet,
                                     seed=seed)
    full = oracle.run(seeds, pages, host_budget=1 << 30)
    rows_of: dict[str, int] = {}
    for r in full.crawl_order:
        rows_of[r["host_key"]] = rows_of.get(r["host_key"], 0) + 1

    by_task: dict[str, list[dict]] = {}
    keep = []
    for s in seeds:
        if U.is_uri_valid_one(s["url"]):
            by_task.setdefault(U.clean_url_one(s["url"]), []).append(s)
        else:
            keep.append(s)
    gen_order = {p["url"]: i for i, p in enumerate(pages)}
    used = {_bucket("example")}
    hosts = {"example"}
    total = rows_of.get("example", 0)
    for task in sorted(by_task, key=lambda u: gen_order.get(u, len(pages))):
        host = U.host_name_one(task)
        if host == "example":
            keep += by_task[task]
        elif (_bucket(host) not in used
              and total + rows_of.get(host, 0) <= target_rows):
            used.add(_bucket(host))
            hosts.add(host)
            total += rows_of.get(host, 0)
            keep += by_task[task]
    keep.sort(key=lambda s: s["seed_id"])

    order = [r for r in full.crawl_order if r["host_key"] in hosts]
    seqs = {r["crawl_seq"] for r in order}
    golden = {
        "seen": {(r["url"], r["host_key"]) for r in full.seen
                 if r["host_key"] in hosts},
        "crawl_order": order,
        "documents": [d for d in full.documents if d["crawl_seq"] in seqs],
        "frontier": [r for r in full.frontier if r["host_key"] in hosts],
    }
    return keep, pages, golden


# Measured on the sf0.1 ``documents`` table of the repository's test data
# (TESTDATA.md; 5,000 rows): doc ids are dense from 0, ``source`` is
# src<doc_id % 20>, ``n_chars`` is the text's length, and a text is 10 to
# 99 words (each length about equally often) drawn evenly from the 30
# words below. 250 texts (5 %) are another, randomly chosen document's text
# with " dup" appended; two of these that copy the same document are exact
# duplicates of each other (8 pairs in sf0.1). Language shares are the
# table's counts out of 5,000.
VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
NEAR_DUP_SHARE = 0.05
LANG_COUNTS = {"en": 2059, "zh": 753, "es": 744, "fr": 742, "de": 702}


def documents(seed: int, n: int) -> dict[str, list]:
    """A ``documents`` table (doc_id, text, lang, source, n_chars) with the
    sf0.1 table's shape, scaled to ``n`` rows (see the measurements above).
    The registry's corpus adds its own twins at doc_id + 100000, so ``n``
    must stay below 100000."""
    rng = random.Random(seed)
    texts = [" ".join(rng.choice(VOCAB) for _ in range(rng.randint(10, 99)))
             for _ in range(n)]
    for d in sorted(rng.sample(range(n), round(n * NEAR_DUP_SHARE))):
        src = rng.randrange(n - 1)
        texts[d] = texts[src + (src >= d)] + " dup"
    langs, weights = zip(*LANG_COUNTS.items())
    return {"doc_id": list(range(n)), "text": texts,
            "lang": rng.choices(langs, weights, k=n),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": [len(t) for t in texts]}

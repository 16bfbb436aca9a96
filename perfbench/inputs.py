"""Seeded benchmark inputs.

Everything here is a pure function of the workload seed: the web pages
(``pagesgen.gen_page`` with ``profile="web"``), the query stream, the
update/delete slices and the corpus slice. The engine only ever sees the
generated data.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass
from typing import Dict, List

import numpy as np

from importpipeline_spark.index import pagesgen

# Query traffic, set from two public web query-log studies.
#
# Terms per query: Silverstein, Henzinger, Marais and Moricz, "Analysis of a
# Very Large Web Search Engine Query Log", SIGIR Forum 33(1), 1999 (AltaVista,
# ~1 billion queries): 25.8% of queries have 1 term, 26.0% 2 terms and 15.0%
# 3 terms (20.6% are empty and 12.6% longer). The stream keeps 1-3 terms, so
# the three shares are renormalised: 0.386 / 0.389 / 0.225.
TERM_SHARES = {1: 25.8, 2: 26.0, 3: 15.0}
TERMS_PER_QUERY = tuple(TERM_SHARES)
P_TERMS = tuple(v / sum(TERM_SHARES.values()) for v in TERM_SHARES.values())
# Repeats: Baeza-Yates, Gionis, Junqueira, Murdock, Plachouras and Silvestri,
# "The Impact of Caching on Search Engines", SIGIR 2007 (a Yahoo! UK log):
# 44% of all queries occur only once, and they are 88% of the distinct
# queries. So distinct queries are 0.44 / 0.88 = 50% of the stream: a
# singleton tail of 44% of the traffic, and a hot set that takes the other
# 56% of the traffic and holds 50% - 44% = 6% of the stream's length in
# distinct queries.
SINGLETON_SHARE = 0.44
SINGLETON_SHARE_OF_DISTINCT = 0.88
P_HOT = 1.0 - SINGLETON_SHARE
HOT_PER_QUERY = SINGLETON_SHARE / SINGLETON_SHARE_OF_DISTINCT - SINGLETON_SHARE
# Term ranks follow the Zipf exponent pagesgen writes the pages with.
ZIPF_S = pagesgen._ZIPF_S
HEAD_RANKS = 100  # reporting split: a one-term query below this rank is
                  # "head", else "rare"; it does not shape the stream

_STREAM_TAG = 0x51
_SLICE_TAG = 0x52


@dataclass(frozen=True)
class Query:
    text: str
    kind: str  # head | rare | pair | three
    hot: bool


def _zipf_cum(n: int) -> np.ndarray:
    w = np.arange(1, n + 1, dtype=np.float64) ** -ZIPF_S
    c = np.cumsum(w)
    return c / c[-1]


def hot_queries(n: int) -> int:
    """Size of the hot set of an ``n``-query stream."""
    return max(1, round(HOT_PER_QUERY * n))


def query_stream(seed: int, n: int, part: int = 0) -> List[Query]:
    """``n`` queries of 1-3 terms drawn by Zipf rank from the English
    vocabulary the pages use. With probability ``P_HOT`` an item is drawn,
    uniformly, from a hot set of ``hot_queries(n)`` queries; otherwise it is
    a query not seen before. Each ``part`` of a seed is its own stream."""
    rng = np.random.default_rng([seed, _STREAM_TAG, part])
    words = pagesgen.vocab("en")
    cum = _zipf_cum(len(words))
    kinds = {2: "pair", 3: "three"}

    def draw():
        k = int(rng.choice(TERMS_PER_QUERY, p=P_TERMS))
        ranks = np.searchsorted(cum, rng.random(k), side="right")
        kind = kinds.get(k) or ("head" if ranks[0] < HEAD_RANKS else "rare")
        return " ".join(str(words[r]) for r in ranks), kind

    seen = set()

    def fresh(hot: bool) -> Query:
        while True:
            text, kind = draw()
            if text not in seen:
                seen.add(text)
                return Query(text, kind, hot)

    hot = [fresh(True) for _ in range(hot_queries(n))]
    out = []
    for _ in range(n):
        if rng.random() < P_HOT:
            out.append(hot[int(rng.integers(len(hot)))])
        else:
            out.append(fresh(False))
    return out


def stream_fingerprint(stream: List[Query]) -> str:
    h = hashlib.sha256()
    for q in stream:
        h.update(f"{q.kind}|{int(q.hot)}|{q.text}\n".encode())
    return h.hexdigest()


def page_row_ids(n: int, profile: str = "web") -> List[int]:
    """The generator rows ``write_pages`` samples for ``n`` pages."""
    seg = pagesgen._SEG_DOCS if profile == "web" else PAGES_PER_SEGMENT
    return [i // PAGES_PER_SEGMENT * seg + i % PAGES_PER_SEGMENT
            for i in range(n)]


def pages_fingerprint(seed: int, n: int, profile: str = "web") -> str:
    """Digest of ``n`` generated pages, computed in-process from the same
    rows ``write_pages`` generates in the workers."""
    h = hashlib.sha256()
    for i in page_row_ids(n, profile):
        row = pagesgen.gen_page(i, seed, profile)
        h.update(row["url"].encode())
        h.update(str(row["warc_ts"]).encode())
        h.update(row["html"])
        h.update((row["text"] or "").encode())
        h.update(row["lang"].encode())
    return h.hexdigest()


# pages per crawl segment in the sample; see write_pages
PAGES_PER_SEGMENT = 20


def write_pages(path: str, n: int, seed: int, files: int,
                profile: str = "web") -> None:
    """``n`` generated pages as ``files`` parquet files under ``path``.

    The web profile gives each crawl segment of ``pagesgen._SEG_DOCS``
    consecutive rows one host, one topic and one doc-length scale, so the
    first few thousand rows are only two or three hosts and their mean doc
    length swings by half from seed to seed. The benchmark samples
    ``PAGES_PER_SEGMENT`` consecutive rows from each of ``n /
    PAGES_PER_SEGMENT`` segments instead: a crawl with many hosts whose
    corpus statistics hold steady across seeds. The rows are
    ``pagesgen.gen_page``'s, as ``pagesgen.write_pages`` makes them; they
    are generated here in the driver, which at this size takes a second and
    no Spark job."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    rows = [pagesgen.gen_page(i, seed, profile)
            for i in page_row_ids(n, profile)]
    cols = ["url", "warc_ts", "html", "text", "lang"]
    schema = pa.schema([("url", pa.string()), ("warc_ts", pa.timestamp("us")),
                        ("html", pa.binary()), ("text", pa.string()),
                        ("lang", pa.string())])
    os.makedirs(path, exist_ok=True)
    step = -(-n // files)
    for k in range(0, n, step):
        pdf = pd.DataFrame(rows[k:k + step], columns=cols)
        pdf["warc_ts"] = pd.to_datetime(pdf["warc_ts"], utc=True) \
            .dt.tz_localize(None)
        pq.write_table(pa.Table.from_pandas(pdf, schema=schema,
                                            preserve_index=False),
                       os.path.join(path, f"part-{k // step:05d}.parquet"))


def read_urls_and_sizes(pages_path: str):
    """(urls, html byte sizes) of the pages on disk, read without Spark."""
    import pyarrow.parquet as pq

    t = pq.read_table(pages_path, columns=["url", "html"])
    urls = t.column("url").to_pylist()
    sizes = [len(b) for b in t.column("html").to_pylist()]
    order = np.argsort(np.array(urls, dtype=object), kind="stable")
    return [urls[i] for i in order], [sizes[i] for i in order]


def host_of(url: str) -> str:
    return url.split("/")[2]


@dataclass
class UpdateSlices:
    host: str
    host_urls: List[str]
    random_urls: List[str]
    delete_urls: List[str]


def update_slices(urls: List[str], seed: int, rnd: int) -> UpdateSlices:
    """One update round's inputs: a re-crawl of one host (every page of a
    seeded host), a random slice of the same size from the other hosts, and
    a 1% delete batch disjoint from both."""
    rng = np.random.default_rng([seed, _SLICE_TAG, rnd])
    by_host: Dict[str, List[str]] = {}
    for u in urls:
        by_host.setdefault(host_of(u), []).append(u)
    hosts = sorted(by_host)
    host = hosts[int(rng.integers(len(hosts)))]
    host_urls = sorted(by_host[host])
    others = np.array([u for u in urls if host_of(u) != host], dtype=object)
    pick = rng.permutation(len(others))
    k = len(host_urls)
    random_urls = sorted(others[pick[:k]].tolist())
    n_del = max(10, len(urls) // 100)
    delete_urls = sorted(others[pick[k:k + n_del]].tolist())
    return UpdateSlices(host, host_urls, random_urls, delete_urls)


def page_sample(pages_path: str, seed: int, n: int):
    """A seeded sample of ``n`` pages' html, read without Spark."""
    import pyarrow.parquet as pq

    t = pq.read_table(pages_path, columns=["url", "html"])
    urls = t.column("url").to_pylist()
    order = np.argsort(np.array(urls, dtype=object), kind="stable")
    rng = np.random.default_rng([seed, _SLICE_TAG, 1 << 20])
    idx = order[rng.permutation(len(order))[:n]]
    html = t.column("html")
    return [html[int(i)].as_py() for i in idx]


def corpus_input(spark, pages_path: str, bench_path: str):
    """The corpus pipeline's input with the phenomena the pretrain job is
    built to remove, planted deterministically as bench.py plants them: a
    shared footer on ~1/8 of the pages, near-dup mirrors, spam rows, five
    poison rows that the extractor quarantines, and an eval slice (written
    to ``bench_path``) for decontamination."""
    from pyspark.sql import functions as F

    raw = spark.read.parquet(pages_path)
    footer = (" subscribe to our newsletter all rights reserved"
              " terms of service privacy policy contact us")
    is_bp = F.xxhash64("url", F.lit("bp")) % 8 == 0
    pages = raw.withColumn(
        "text", F.when(is_bp, F.concat("text", F.lit(footer)))
        .otherwise(F.col("text")),
    ).withColumn(
        "html", F.when(is_bp, F.encode(F.col("text"), "utf-8"))
        .otherwise(F.col("html")),
    )
    mirrors = pages.where(F.xxhash64("url") % 10 == 0).select(
        F.concat(F.col("url"), F.lit("_mirror")).alias("url"),
        "warc_ts",
        F.encode(F.concat(F.col("text"), F.lit(" zzmirrortoken")),
                 "utf-8").alias("html"),
        "text",
        "lang",
    )
    spamtext = ("buy cheap pills now " * 60).strip()
    spam = pages.where(F.xxhash64("url", F.lit("spam")) % 32 == 0).select(
        F.concat(F.col("url"), F.lit("_spam")).alias("url"),
        "warc_ts",
        F.encode(F.lit(spamtext), "utf-8").alias("html"),
        F.lit(spamtext).alias("text"),
        "lang",
    )
    deep = ("<html><body>" + "<div>" * 30000 + "x" + "</div>" * 30000
            + "</body></html>")
    poison = spark.range(5).select(
        F.concat(F.lit("https://poison.example/p/"), "id").alias("url"),
        F.lit("2020-01-01").cast("timestamp").alias("warc_ts"),
        F.encode(F.lit(deep), "utf-8").alias("html"),
        F.lit(None).cast("string").alias("text"),
        F.lit("en").alias("lang"),
    )
    if not os.path.exists(bench_path):
        raw.where(F.xxhash64("url") % 50 == 0).select("text").write.parquet(
            bench_path
        )
    return (pages.unionByName(mirrors).unionByName(spam)
            .unionByName(poison))

"""Serial reference for the per-round counts of the benchmark's crawl.

The engine's production round, restated in plain Python over a pandas
corpus, with no Spark: claim the ``per_host_budget // salt`` lowest
``(depth, seq)`` pending URLs of every (host, ``url_hash`` mod salt) shard;
fetch the claimed URLs that are corpus documents; take each document's
link spans in offset order; absolutize and canonicalize every href with
the standard library (``urljoin`` + ``canonicalize_url_py``); keep links
on allowed hosts; a URL's first discovery by ``(parent_seq, pos)`` wins;
URLs ever enqueued are dropped; the new ones get dense seqs in
``(parent_seq, pos)`` order.

``round_counts`` returns ``[urls_claimed, links_found, links_new]`` per
round, which ``run.py`` compares with the engine's ``round_stats``. The
engine's vectorized link kernel, Bloom prefilter, anti-join and bucketed
seq assignment all have to agree with this to pass.
"""

from __future__ import annotations

import heapq
import struct
from urllib.parse import urljoin, urlsplit

from distributed_web_scrapper_and_crawler_spark.functions.canonicalize import canonicalize_url_py

LINK_DEPTH = {"link_book": 1, "link_next": 0, "link_cat": 0}
_M = (1 << 64) - 1
_P1, _P2, _P3, _P4, _P5 = (
    11400714785074694791, 14029467366897019727, 1609587929392839161,
    9650029242287828579, 2870177450012600261,
)


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M


def _round(acc: int, lane: int) -> int:
    return _rotl((acc + lane * _P2) & _M, 31) * _P1 & _M


def xxhash64(s: str, seed: int = 42) -> int:
    """XXH64 of the UTF-8 bytes, as Spark's ``xxhash64`` (seed 42) returns
    it: a signed 64-bit integer."""
    b = s.encode("utf-8")
    n, i = len(b), 0
    if n >= 32:
        v = [(seed + _P1 + _P2) & _M, (seed + _P2) & _M, seed & _M, (seed - _P1) & _M]
        while i + 32 <= n:
            for k, lane in enumerate(struct.unpack_from("<4Q", b, i)):
                v[k] = _round(v[k], lane)
            i += 32
        h = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12) + _rotl(v[3], 18)) & _M
        for x in v:
            h = ((h ^ _round(0, x)) * _P1 + _P4) & _M
    else:
        h = (seed + _P5) & _M
    h = (h + n) & _M
    while i + 8 <= n:
        h = (_rotl(h ^ _round(0, struct.unpack_from("<Q", b, i)[0]), 27) * _P1 + _P4) & _M
        i += 8
    if i + 4 <= n:
        h = (_rotl(h ^ (struct.unpack_from("<I", b, i)[0] * _P1 & _M), 23) * _P2 + _P3) & _M
        i += 4
    while i < n:
        h = _rotl(h ^ (b[i] * _P5 & _M), 11) * _P1 & _M
        i += 1
    h ^= h >> 33
    h = h * _P2 & _M
    h ^= h >> 29
    h = h * _P3 & _M
    h ^= h >> 32
    return h - (1 << 64) if h >> 63 else h


def _links(base: str, spans) -> list[tuple[str, int]]:
    """(canonical url, depth delta) of a document's link spans, offset order."""
    out = []
    for sp in sorted((sp for sp in spans if sp["kind"] in LINK_DEPTH), key=lambda sp: sp["offset"]):
        out.append((canonicalize_url_py(urljoin(base, sp["text"])), LINK_DEPTH[sp["kind"]]))
    return out


def round_counts(
    corpus,
    seeds: list[str],
    n_rounds: int,
    per_host_budget: int,
    salt: int,
    allowed_domains: tuple[str, ...],
) -> list[list[int]]:
    """Per-round ``[urls_claimed, links_found, links_new]`` of a crawl of
    ``corpus`` (a pandas frame of ``doc_id``, ``spans``) from ``seeds``, for
    at most ``n_rounds`` rounds, stopping early when nothing is pending."""
    allowed = tuple(d.lower() for d in allowed_domains)
    docs = dict(zip(corpus["doc_id"], corpus["spans"]))
    per_shard = max(1, per_host_budget // salt) if salt > 1 else per_host_budget
    enqueued: set[str] = set()
    # shard (host, salt) -> heap of (depth, seq, url)
    pending: dict[tuple[str, int], list] = {}

    def shard(url: str) -> tuple[str, int]:
        return urlsplit(url).netloc.lower(), xxhash64(url) % salt if salt > 1 else 0

    def enqueue(url: str, depth: int, seq: int) -> None:
        enqueued.add(url)
        heapq.heappush(pending.setdefault(shard(url), []), (depth, seq, url))

    seq = 0
    for raw in seeds:
        url = canonicalize_url_py(raw)
        if url not in enqueued and any(d in urlsplit(url).netloc.lower() for d in allowed):
            enqueue(url, 0, seq)
            seq += 1

    counts = []
    for _ in range(n_rounds):
        claim = [heapq.heappop(h) for h in pending.values() for _ in range(min(per_shard, len(h)))]
        if not claim:
            break
        found, first = 0, {}
        for depth, parent_seq, url in claim:
            if url not in docs:
                continue  # a failed fetch discovers nothing
            for pos, (link, delta) in enumerate(_links(url, docs[url])):
                if not any(d in urlsplit(link).netloc.lower() for d in allowed):
                    continue
                found += 1
                key = (parent_seq, pos, depth + delta)
                if link not in first or key < first[link]:
                    first[link] = key
        new = sorted((key, link) for link, key in first.items() if link not in enqueued)
        for (_, _, depth), link in new:
            enqueue(link, depth, seq)
            seq += 1
        counts.append([len(claim), found, len(new)])
    return counts

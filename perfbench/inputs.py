"""Seeded input generators for the benchmark workloads.

Every function here is a pure function of its arguments: the same seed
gives byte-identical inputs (``digest`` proves it), and nothing reads
the clock, the network or files. The engine only ever receives what
these functions return.
"""

from __future__ import annotations

import hashlib
import json

import numpy as np

# Engine imports stay inside the functions that need them, so importing
# this module starts nothing.

_WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
# Document vocabulary: the word list above plus 270 synthetic words.
# A vocabulary this size keeps MinHash/LSH candidates mostly to the
# planted duplicates instead of every pair of short documents.
_VOCAB = _WORDS + [a + b + c for a in "bdgklmnprst" for b in "aeiou" for c in "nrstx"][:270]
_LANGS = ("en", "en", "en", "fr", "de", "es", "zh")
HEADER = ["original", "timestamp", "mimetype"]


def crawl_inputs(
    seed: int,
    n_urls: int,
    n_hosts: int,
    n_filler: int,
    preseed_share: float,
    zipf: float = 0.7,
) -> dict:
    """Inputs of one recrawl job.

    - ``cdx``: a multi-host CDX list (header row first), one snapshot
      per URL over a zipf-skewed host mix;
    - ``checkpoint``: the URLs a previous crawl already saved (seeded
      into url_seen before the job): all allowed URLs but
      ``(1 - preseed_share) * n_urls`` of them;
    - ``filler``: URLs of other hosts that make the seen set large;
    - ``robots``: one robots row per host (disallowed path prefixes and
      a crawl delay), so the gate blocks a few percent of the frontier.
    """
    from web_archive_downloader_spark.datagen import gen_cdx_multihost

    rng = np.random.default_rng(seed)
    cdx = gen_cdx_multihost(n_urls, n_hosts, seed=seed, zipf=zipf)
    urls = [r[0] for r in cdx]
    words: dict[str, set[str]] = {}
    for u in urls:  # paths are /p/<word>-<i>
        host, path = u.split("/")[2], u.split("/", 3)[3]
        words.setdefault(host, set()).add(path[2:].rsplit("-", 1)[0])
    robots = []
    for host in sorted(words):
        disallow = []
        if rng.random() < 0.5:
            pool = sorted(words[host])
            picks = rng.choice(pool, min(2, len(pool)), replace=False)
            disallow = [f"/p/{w}-" for w in picks]
        delay = float(rng.choice([1.5, 1.5, 2.0, 3.0]))
        robots.append((host, disallow, delay, 0))
    rules = {h: d for h, d, _, _ in robots}

    def allowed(u: str) -> bool:
        path = "/" + u.split("/", 3)[3]
        return not any(path.startswith(p) for p in rules[u.split("/")[2]])

    # A previous crawl that honoured the same robots rules never saved a
    # disallowed URL, so the checkpoint holds allowed URLs only. It leaves
    # out exactly (1 - preseed_share) * n_urls of them: every seed then
    # schedules the same number of fetches.
    ok = [u for u in urls if allowed(u)]
    fresh = set(rng.choice(len(ok), round(n_urls * (1 - preseed_share)), replace=False).tolist())
    checkpoint = [u for i, u in enumerate(ok) if i not in fresh]
    filler = [
        f"https://seen{int(h):04d}.example.net/a/{int(v):x}"
        for h, v in zip(
            rng.integers(0, 4096, n_filler), rng.integers(0, 1 << 40, n_filler)
        )
    ]
    return {
        "cdx": [HEADER] + cdx,
        "checkpoint": checkpoint,
        "filler": filler,
        "robots": robots,
    }


def page_batch(seed: int, n_pages: int) -> list[tuple[str, str]]:
    """(url, html) rows of ~30 KB pages from the package's rich-page
    fixture, over a seeded set of URLs."""
    from web_archive_downloader_spark.datagen import page_html_rich

    rng = np.random.default_rng(seed + 11)
    out = []
    for i in range(n_pages):
        host = int(rng.integers(0, 64))
        word = _WORDS[int(rng.integers(0, len(_WORDS)))]
        url = f"https://host{host:03d}.example.org/p/{word}-{seed}-{i}"
        out.append((url, page_html_rich(url)))
    return out


def documents(seed: int, n_docs: int) -> dict[str, list]:
    """Columns of a ``documents`` table (doc_id, text, lang, source,
    n_chars) with planted exact and near duplicates, so every dedup
    query finds pairs."""
    rng = np.random.default_rng(seed + 21)
    texts: list[str] = []
    originals: list[int] = []  # copies are made of originals only: near-dup clusters are stars
    for i in range(n_docs):
        r = rng.random()
        if i > 10 and r < 0.04:
            texts.append(texts[originals[int(rng.integers(0, len(originals)))]])
        elif i > 10 and r < 0.12:
            toks = texts[originals[int(rng.integers(0, len(originals)))]].split()
            for _ in range(int(rng.integers(1, 3))):
                toks[int(rng.integers(0, len(toks)))] = _VOCAB[int(rng.integers(0, len(_VOCAB)))]
            texts.append(" ".join(toks + ["dup"]))
        else:
            n = int(rng.integers(10, 100))
            originals.append(i)
            texts.append(" ".join(_VOCAB[j] for j in rng.integers(0, len(_VOCAB), n)))
    return {
        "doc_id": list(range(n_docs)),
        "text": texts,
        "lang": [_LANGS[int(j)] for j in rng.integers(0, len(_LANGS), n_docs)],
        "source": [f"src{int(j)}" for j in rng.integers(0, 20, n_docs)],
        "n_chars": [len(t) for t in texts],
    }


def embeddings(seed: int, n_vecs: int, dim: int = 64, n_labels: int = 10) -> dict[str, list]:
    """Columns of an ``embeddings`` table (vec_id, embedding, label):
    unit vectors around ``n_labels`` centres, with planted near copies."""
    rng = np.random.default_rng(seed + 31)
    centres = rng.normal(size=(n_labels, dim))
    labels = rng.integers(0, n_labels, n_vecs)
    x = centres[labels] + rng.normal(scale=2.0, size=(n_vecs, dim))
    copies = np.flatnonzero(rng.random(n_vecs) < 0.05)
    copies = copies[copies > 0]
    src = (rng.random(len(copies)) * copies).astype(int)
    x[copies] = x[src] + rng.normal(scale=0.05, size=(len(copies), dim))
    labels[copies] = labels[src]
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return {
        "vec_id": list(range(n_vecs)),
        "embedding": x.astype(np.float32).tolist(),
        "label": labels.astype(np.int32).tolist(),
    }


def digest(obj) -> str:
    """sha256 of a canonical JSON encoding (tuples as lists)."""
    return hashlib.sha256(
        json.dumps(obj, sort_keys=True, separators=(",", ":")).encode()
    ).hexdigest()

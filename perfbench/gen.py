"""Seeded input generators with ground-truth sidecars.

Each generator writes one workload's inputs into a directory and returns
the ground truth the benchmark checks the program's outputs against.
The same seed gives byte-identical inputs. Generation is pure Python
(plus pyarrow for the corpus parquet), so the program under test sees
only the files.
"""

from __future__ import annotations

import csv
import os
import random
import string

SITE = "https://shop.example.com"
SECTIONS = ("p", "blog", "guides", "c", "help", "news")

# vis_pages: page-level exports, one row per URL per source.
PAGES_N = 10_000
# corpus_neardup: Zipf vocabulary, planted near-duplicate clusters.
CORPUS_DOCS = 250
CORPUS_VOCAB = 4_000
CORPUS_CLUSTER_SHARE = 0.25
CORPUS_JACCARD = 0.8


def _canonical_urls(rng: random.Random, n: int, tag: str) -> list[str]:
    out = []
    for i in range(n):
        sec = SECTIONS[rng.randrange(len(SECTIONS))]
        url = f"{SITE}/{sec}/{tag}-item-{i}"
        if rng.random() < 0.05:
            url += f"?color={rng.choice(('red', 'blue', 'green'))}"
        out.append(url)
    return out


def _split_query(url: str) -> tuple[str, str]:
    base, _, query = url.partition("?")
    return base, query


def _variant(rng: random.Random, url: str) -> str:
    """A raw spelling of ``url`` that normalizes back to it: utm params,
    host case, trailing slash or fragment."""
    base, query = _split_query(url)
    kind = rng.randrange(5)
    if kind == 1:
        query = "&".join(q for q in (query, f"utm_source=news{rng.randrange(9)}&utm_medium=email") if q)
    elif kind == 2:
        base = base.replace("shop.example.com", "Shop.Example.COM").replace("https", "HTTPS")
    elif kind == 3:
        base += "/"
    elif kind == 4:
        return f"{base}{'?' + query if query else ''}#section-{rng.randrange(5)}"
    return f"{base}{'?' + query if query else ''}"


def _frog_row(rng: random.Random, url: str, i: int) -> list:
    schema = rng.choice(("Article", "Product", "", "BlogPosting", "FAQPage"))
    title = f"Title {i}" if rng.random() < 0.8 else f"Title {i}, with \"quotes\", commas"
    return [url, 200 if rng.random() < 0.95 else 301, title, f"Description of page {i}",
            rng.randrange(1, 7), rng.randrange(0, 60), rng.randrange(150, 2400), schema]


FROG_HEADER = ["Address", "Status Code", "Title 1", "Meta Description 1",
               "Crawl Depth", "Inlinks", "Word Count", "Structured Data"]


def _write_csv(path: str, header: list[str], rows: list[list], preamble: str = "") -> int:
    with open(path, "w", newline="") as fh:
        fh.write(preamble)
        w = csv.writer(fh)
        w.writerow(header)
        w.writerows(rows)
    return os.path.getsize(path)


def _gsc_metrics(rng: random.Random) -> tuple[int, int, float]:
    imp = rng.randrange(20, 5000)
    clicks = int(imp * rng.random() * 0.12)
    pos = round(1 + rng.random() * 25, 1)
    return clicks, imp, pos


def _sessions(rng: random.Random) -> tuple[int, int, int, float]:
    s = rng.randrange(5, 600)
    return max(s - rng.randrange(0, 5), 0), s, int(s * rng.random()), round(5 + rng.random() * 200, 1)


class _Truth:
    """Expected merged output, accumulated while rows are generated."""

    def __init__(self, spine: list[str]):
        self.spine = set(spine)
        self.clicks = self.impressions = self.sessions = 0
        self.gsc_urls: set[str] = set()
        self.ga4_urls: set[str] = set()

    def gsc(self, url: str, clicks: int, imp: int) -> None:
        if url in self.spine:
            self.clicks += clicks
            self.impressions += imp
            self.gsc_urls.add(url)

    def ga4(self, url: str, sessions: int) -> None:
        if url in self.spine:
            self.sessions += sessions
            self.ga4_urls.add(url)

    def sidecar(self, input_bytes: int, rows_in: dict) -> dict:
        return {
            "merged_rows": len(self.spine),
            "clicks": self.clicks,
            "impressions": self.impressions,
            "sessions": self.sessions,
            "match_gsc": len(self.gsc_urls),
            "match_ga4": len(self.ga4_urls),
            "input_bytes": input_bytes,
            "rows_in": rows_in,
        }


def gen_vis_pages(out: str, seed: int) -> dict:
    """Page-level Screaming Frog / GSC / GA4 exports with partial overlap:
    GSC covers 80% and GA4 60% of the crawl spine, and each adds 10% of
    URLs that the crawl never saw. 2% of crawl rows repeat a page under
    another spelling, which the spine dedup collapses."""
    rng = random.Random(seed)
    spine = _canonical_urls(rng, PAGES_N, "page")
    extra = _canonical_urls(rng, PAGES_N // 10, "orphan")
    truth = _Truth(spine)

    frog = [_frog_row(rng, u if rng.random() < 0.7 else _variant(rng, u), i)
            for i, u in enumerate(spine)]
    frog += [_frog_row(rng, _variant(rng, spine[i]), i)
             for i in rng.sample(range(PAGES_N), PAGES_N // 50)]
    rng.shuffle(frog)

    gsc = []
    for u in rng.sample(spine, int(PAGES_N * 0.8)) + extra:
        c, imp, pos = _gsc_metrics(rng)
        truth.gsc(u, c, imp)
        gsc.append([_variant(rng, u), c, imp, f"{100.0 * c / imp:.2f}%", pos])
    ga4 = []
    for u in rng.sample(spine, int(PAGES_N * 0.6)) + rng.sample(extra, len(extra) // 2):
        users, s, eng, t = _sessions(rng)
        truth.ga4(u, s)
        ga4.append([u[len(SITE):], users, s, eng, t])
    ga4 += [["(not set)", 1, 1, 0, 0.0], ["(other)", 2, 2, 1, 1.0]]
    rng.shuffle(gsc)
    rng.shuffle(ga4)

    size = _write_csv(os.path.join(out, "frog.csv"), FROG_HEADER, frog)
    size += _write_csv(os.path.join(out, "gsc.csv"),
                       ["Top pages", "Clicks", "Impressions", "CTR", "Position"], gsc)
    size += _write_csv(os.path.join(out, "ga4.csv"),
                       ["Page path and screen class", "Active users", "Sessions",
                        "Engaged sessions", "Average engagement time"], ga4,
                       preamble="# GA4 export\n")
    return truth.sidecar(size, {"frog": len(frog), "gsc": len(gsc), "ga4": len(ga4)})


def _shingles(tokens: list[str], k: int = 3) -> set[str]:
    return {" ".join(tokens[i:i + k]) for i in range(len(tokens) - k + 1)}


def expected_clean_ids(docs: list[tuple[int, str]], threshold: float = CORPUS_JACCARD) -> set[int]:
    """Independent exact near-dup collapse: word-3-gram Jaccard over every
    pair that shares a shingle, union-find, keep each component's min id."""
    sh = {i: _shingles(t.lower().split()) for i, t in docs}
    posting: dict[str, list[int]] = {}
    for i, s in sh.items():
        for g in s:
            posting.setdefault(g, []).append(i)
    parent = {i: i for i in sh}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    seen: set[tuple[int, int]] = set()
    for ids in posting.values():
        for a_i, a in enumerate(ids):
            for b in ids[a_i + 1:]:
                pair = (min(a, b), max(a, b))
                if pair in seen:
                    continue
                seen.add(pair)
                sa, sb = sh[a], sh[b]
                inter = len(sa & sb)
                if inter / (len(sa) + len(sb) - inter) >= threshold:
                    ra, rb = find(a), find(b)
                    parent[max(ra, rb)] = min(ra, rb)
    return {i for i in sh if find(i) == i}


def gen_corpus(out: str, seed: int) -> dict:
    """Zipf-vocabulary documents; about a fifth of them sit in planted
    clusters of 2-4 near-duplicates (one word changed) or exact copies
    (case and whitespace changed only)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(seed)
    vocab = sorted({"".join(rng.choices(string.ascii_lowercase, k=rng.randrange(3, 10)))
                    for _ in range(CORPUS_VOCAB)})
    rng.shuffle(vocab)
    cum, acc = [], 0.0
    for r in range(len(vocab)):
        acc += 1.0 / (r + 1) ** 1.1
        cum.append(acc)

    def doc() -> list[str]:
        return rng.choices(vocab, cum_weights=cum, k=rng.randrange(80, 200))

    texts: list[str] = []
    while len(texts) < CORPUS_DOCS:
        base = doc()
        if rng.random() < CORPUS_CLUSTER_SHARE / 3:
            texts.append(" ".join(base))
            for _ in range(rng.randrange(1, 4)):
                if rng.random() < 0.3:
                    texts.append("  ".join(base).upper())
                else:
                    edit = list(base)
                    edit[rng.randrange(len(edit))] = rng.choice(vocab)
                    texts.append(" ".join(edit))
        else:
            texts.append(" ".join(base))
    texts = texts[:CORPUS_DOCS]
    order = list(range(CORPUS_DOCS))
    rng.shuffle(order)
    docs = [(doc_id, texts[j]) for doc_id, j in enumerate(order)]

    path = os.path.join(out, "docs.parquet")
    pq.write_table(pa.table({"doc_id": pa.array([d[0] for d in docs], pa.int64()),
                             "text": [d[1] for d in docs]}), path)
    clean = expected_clean_ids(docs)
    return {"docs": len(docs), "clean_ids": sorted(clean), "input_bytes": os.path.getsize(path)}


"""Seeded input generators for the benchmark workloads.

Everything here is a pure function of its arguments: the same seed gives
the same rows, so the program under test only ever sees generated tables.

* :func:`mentions` — a mentions table in the stage-A layout (url, warc_ts,
  text, start_char, end_char, tag, priority).  Its shape is calibrated to
  the sf0.1 golden (``data/golden/sf0.1/kg_mentions_by_tag.parquet``):
  8.64 mentions per page and that file's tag mix.  Name-like surfaces are
  drawn Zipf-skewed from a pool (hot surfaces), and a share of them carry a
  one-letter typo or a case variant, so canonicalization has real fuzzy
  merges to make.
* :func:`documents` — curate-corpus documents whose text comes from
  ``fixtures.generate_pages``; seeded shares are near-duplicates or fail one
  verdict rule each.
"""

from __future__ import annotations

import hashlib
import zlib
from datetime import datetime, timedelta, timezone

import numpy as np
import pandas as pd

from deduce_spark import fixtures

# tag -> mention count in the sf0.1 golden (386,679 mentions, 44,730 pages)
GOLDEN_TAG_COUNTS = {
    "bsn": 13371, "datum": 49651, "emailadres": 24653, "id": 36165,
    "leeftijd": 24733, "locatie": 103830, "persoon": 59604,
    "telefoonnummer": 25028, "url": 24653, "ziekenhuis": 24991,
}
MENTIONS_PER_PAGE = 386_679 / 44_730
TYPO_SHARE = 0.12  # name-like mentions written as a one-letter typo variant
CASE_SHARE = 0.05  # ... or in upper case (merges by normalization alone)

_TAGS = sorted(GOLDEN_TAG_COUNTS)
_TAG_P = np.array([GOLDEN_TAG_COUNTS[t] for t in _TAGS], dtype=float)
_TAG_P /= _TAG_P.sum()
_SYLLABLES = [
    "berg", "dijk", "veld", "huis", "boom", "meer", "broek", "land", "wijk",
    "hof", "kamp", "man", "stra", "horst", "hout", "beek", "rade", "sma",
]
_LETTERS = "abcdefghijklmnoprstuvwz"
_BASE_TS = datetime(2024, 1, 1, tzinfo=timezone.utc)


def _name_pools(seed: int, size: int = 5000) -> dict[str, list[str]]:
    """Name-like surface pools (persons, places, institutions)."""
    rng = np.random.default_rng([seed, 1])

    def surname() -> str:
        k = rng.integers(2, 4)
        s = "".join(_SYLLABLES[i] for i in rng.integers(0, len(_SYLLABLES), k))
        return s.capitalize()

    persons, places, orgs = [], [], []
    for _ in range(size):
        first = fixtures.FIRST_NAMES[rng.integers(len(fixtures.FIRST_NAMES))]
        mid = fixtures.INTERFIXES[rng.integers(len(fixtures.INTERFIXES))]
        persons.append(f"{first} {mid} {surname()}")
        street = surname() + fixtures.STREET_SUFFIX[
            rng.integers(len(fixtures.STREET_SUFFIX))
        ]
        town = fixtures.PLACES[rng.integers(len(fixtures.PLACES))]
        places.append(f"{street} {town}" if rng.random() < 0.7 else town)
        orgs.append(
            fixtures.HOSPITALS[rng.integers(len(fixtures.HOSPITALS))]
            if rng.random() < 0.2
            else f"Ziekenhuis {surname()} {fixtures.PLACES[rng.integers(10)]}"
        )
    return {"persoon": persons, "locatie": places, "ziekenhuis": orgs}


def _zipf_index(rng: np.random.Generator, n: int, size: int) -> np.ndarray:
    """Zipf(1.2)-skewed ranks in [0, n): a few hot surfaces, long tail."""
    return (rng.zipf(1.2, size) - 1) % n


def _typo(s: str, k: int) -> str:
    """Deterministic one-letter substitution, position and letter from k."""
    pos = 2 + k % max(1, len(s) - 4)
    c = _LETTERS[(k // 7) % len(_LETTERS)]
    if s[pos] == c or s[pos] == " ":
        c = _LETTERS[(k // 7 + 1) % len(_LETTERS)]
        pos = pos if s[pos] != " " else pos + 1
    return s[:pos] + c + s[pos + 1:]


def _phi_text(tag: str, u: int) -> str:
    if tag == "bsn":
        return f"{100000000 + u % 900000000}"
    if tag == "id":
        return f"{1000000 + u % 90000000}"
    if tag == "telefoonnummer":
        return f"06-{10000000 + u % 90000000}"
    if tag == "emailadres":
        return f"p{u % 100000}@voorbeeld.nl"
    if tag == "url":
        return f"www.site{u % 1000:03d}.nl"
    if tag == "leeftijd":
        return f"{18 + u % 80} jaar"
    if tag == "datum":
        return (f"{1 + u % 28} {fixtures.MONTHS[(u // 28) % 12]} "
                f"{1990 + (u // 336) % 35}")
    raise ValueError(tag)


def mentions(seed: int, n_pages: int) -> pd.DataFrame:
    """Mentions of ``n_pages`` pages."""
    pools = _name_pools(seed)
    rng = np.random.default_rng([seed, 2])
    per_page = rng.poisson(MENTIONS_PER_PAGE, n_pages)
    n = int(per_page.sum())
    page = np.repeat(np.arange(n_pages), per_page)
    tags = np.asarray(_TAGS)[rng.choice(len(_TAGS), n, p=_TAG_P)]
    ranks = _zipf_index(rng, len(pools["persoon"]), n)
    variant = rng.random(n)
    uniq = rng.integers(0, 2**62, n)
    texts = []
    for tag, r, v, u in zip(tags, ranks, variant, uniq):
        pool = pools.get(tag)
        if pool is None:
            texts.append(_phi_text(tag, int(u)))
            continue
        s = pool[int(r) % len(pool)]
        if v < TYPO_SHARE:
            s = _typo(s, int(u) % 5 + 7 * int(r))
        elif v < TYPO_SHARE + CASE_SHARE:
            s = s.upper()
        texts.append(s)
    domains = [fixtures.DOMAINS[int(d)] for d in
               (99 * rng.random(n_pages) ** 2.2).astype(int)]
    page_url = [f"https://{domains[i]}/artikel/{i:08d}" for i in range(n_pages)]
    lens = np.fromiter((len(t) for t in texts), dtype=np.int64, count=n)
    start = rng.integers(0, 4000, n)
    return pd.DataFrame({
        "url": np.asarray(page_url, dtype=object)[page],
        "warc_ts": [_BASE_TS + timedelta(minutes=int(p)) for p in page],
        "text": texts,
        "start_char": start.astype(np.int32),
        "end_char": (start + lens).astype(np.int32),
        "tag": tags,
        "priority": rng.integers(0, 100, n).astype(np.int32),
    })


def part_id(urls: pd.Series, n_parts: int) -> np.ndarray:
    """Stable per-url partition (the stage-A ``part_id`` layout)."""
    return np.fromiter(
        (zlib.crc32(u.encode()) % n_parts for u in urls),
        dtype=np.int32, count=len(urls),
    )


# -- curate documents --------------------------------------------------------

# share of documents rewritten to fail each verdict rule (or, near_dup, to
# be caught by minhash dedup); the rest keep their generated text
VERDICT_SHARES = {
    "too_short": 0.03, "repetitive": 0.03, "dominated": 0.03,
    "duplicate": 0.04, "near_dup": 0.08, "contaminated": 0.02,
}


def documents(seed: int, n_docs: int) -> pd.DataFrame:
    """(doc_id, text) with seeded shares of near-duplicates and of docs
    that fail each verdict rule."""
    texts = fixtures.generate_pages(n_docs, seed)["text"]
    texts = [t.replace("\n", " ") for t in texts]
    rng = np.random.default_rng([seed, 3])
    kinds = rng.choice(
        len(VERDICT_SHARES) + 1, n_docs,
        p=[*VERDICT_SHARES.values(), 1 - sum(VERDICT_SHARES.values())],
    )
    names = list(VERDICT_SHARES)
    # doc_id % 101 == 0 is the job's contamination benchmark slice: those
    # docs stay as generated, and 'contaminated' docs quote one of them
    bench_ids = range(0, n_docs, 101)
    out = []
    for i, (t, k) in enumerate(zip(texts, kinds)):
        kind = names[k] if k < len(names) and i % 101 else "keep"
        src = int(rng.integers(0, i)) if i else 0
        if kind == "too_short":
            t = " ".join(t.split()[:12])
        elif kind == "repetitive":
            t = " ".join([" ".join(t.split()[:6])] * 12)
        elif kind == "dominated":
            t = " ".join(["zorg"] * 40 + t.split()[:30])
        elif kind == "duplicate":
            t = out[src]
        elif kind == "near_dup":
            w = out[src].split()
            j = int(rng.integers(0, len(w)))
            t = " ".join(w[:j] + ["bovendien"] + w[j:])
        elif kind == "contaminated":
            b = texts[bench_ids[int(rng.integers(0, len(bench_ids)))]]
            t = b + " " + t
        out.append(t)
    return pd.DataFrame({"doc_id": np.arange(n_docs, dtype=np.int64),
                         "text": out})


def digest(df: pd.DataFrame) -> str:
    """Content digest of a generated frame (row order included)."""
    h = hashlib.sha256()
    for col in df.columns:
        h.update(col.encode())
        h.update(pd.util.hash_pandas_object(df[col], index=False).to_numpy()
                 .tobytes())
    return h.hexdigest()[:16]

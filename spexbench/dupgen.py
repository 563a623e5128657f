"""Seeded dup-heavy pages table and its expected ``prepare`` corpus.

Every page is a pure function of (position, spec, seed). Positions map to
*logical* indices through a stride permutation, and logical indices group
into families of ``FAMILY`` members:

    member 0      base document
    member 1      exact copy of the base
    members 2..3  a near-copy chain: member k = member k-1 with
                  ``EDIT_WORDS`` more content words replaced
    members 4..9  unrelated documents

The stride is wider than a file, so consecutive logical indices (a family)
land in different files. Words come from a ``VOCAB``-word syllable
vocabulary, so unrelated pages share no 3-word shingles and no LSH bands.
Every fourth token of an article is a stopword of the page's language.
A fifth of the documents are numeric tables whose quality score sits just
under ``prepare``'s 0.5 cut; half of those carry stopwords, which lift
them over it. The designed gate pass rate is therefore 90% of the valid
pages.

These shares (10% exact copies, 20% near copies in 2-link chains of
4-word edits, 20% tables, a 90% gate pass rate) are design choices, not a
measured duplicate mix of real crawls: they are set so that LSH
verification finds pairs and ``dup_clusters`` needs at least two rounds.
A gain on this table is a gain on this table, not on real corpora.

:func:`expected_corpus` recomputes what ``prepare_training_data`` (pairs
mode, defaults) must keep, without Spark: the pure-Python cascade, the
quality-gate formula, exact dedup on the text digest, MinHash-LSH with
the engine's double-hashing family and band layout, exact Jaccard over
hashed shingles, and connected components keeping the minimum url.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import math
import re
from collections import defaultdict
from typing import Dict, List, Tuple

import numpy as np

FAMILY = 10
EXACT_MEMBERS = (1,)
CHAIN_MEMBERS = (2, 3)
EDIT_WORDS = 4
VOCAB = 20_000
TABLE_SHARE = 0.2
FILES = 16

SPEC = {
    "vocabulary": VOCAB,
    "exact_copy_share": len(EXACT_MEMBERS) / FAMILY,
    "near_copy_share": len(CHAIN_MEMBERS) / FAMILY,
    "edit_words_per_link": EDIT_WORDS,
    "chain_length": len(CHAIN_MEMBERS),
    "designed_gate_pass_rate": 1.0 - TABLE_SHARE / 2,
    "files": FILES,
}

# The engine's stopword lists (functions/textstats.STOPWORDS), restated so
# that the inputs stay the same when a change edits the engine's lists (the
# expectation then flags the changed gate) and no Spark module is imported.
_STOPWORDS = {
    "en": ["the", "and", "of", "to", "is", "in", "that", "with"],
    "fr": ["le", "la", "les", "et", "de", "un", "une", "est"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "mit", "ein"],
    "es": ["el", "la", "los", "de", "que", "es", "un", "una"],
    "it": ["il", "la", "che", "di", "un", "una", "per", "non"],
}
_LANGS = sorted(_STOPWORDS)
_SYLLABLES = [c + v for c in "bcdfgklmnprstvz" for v in "aeiou"]
_EPOCH = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)


def _word(j: int) -> str:
    n = len(_SYLLABLES)
    return _SYLLABLES[j % n] + _SYLLABLES[(j // n) % n] + _SYLLABLES[(j // n // n) % n]


def _rng(seed: int, *tags: int) -> np.random.Generator:
    return np.random.default_rng([seed, *tags])


def _stride(n: int) -> int:
    s = n // FILES + 1
    while math.gcd(s, n) != 1:
        s += 1
    return s


def logical_index(position: int, n: int) -> int:
    return position * pow(_stride(n), -1, n) % n


def _base_tokens(seed: int, family: int, member: int) -> Tuple[List[str], str, bool]:
    """(tokens, lang, is_table) of an original document."""
    r = _rng(seed, family, member, 0)
    lang = _LANGS[int(r.integers(len(_LANGS)))]
    stop = _STOPWORDS[lang]
    if r.random() < TABLE_SHARE:
        with_stop = r.random() < 0.5
        toks = []
        for i in range(36):
            if i % 2:
                toks.append(f"{int(r.integers(10, 99))}.{int(r.integers(0, 9))}")
            elif with_stop and i % 4 == 0:
                toks.append(stop[int(r.integers(len(stop)))])
            else:
                toks.append(_word(int(r.integers(VOCAB))))
        return toks, lang, True
    n_tok = 160 + int(r.integers(60))
    toks = [
        stop[int(r.integers(len(stop)))] if i % 4 == 3 else _word(int(r.integers(VOCAB)))
        for i in range(n_tok)
    ]
    return toks, lang, False


def _edit(toks: List[str], seed: int, family: int, link: int) -> List[str]:
    """Replace EDIT_WORDS content words, spaced so each edit touches three
    distinct shingles."""
    r = _rng(seed, family, 100 + link)
    out = list(toks)
    span = len(out) // EDIT_WORDS
    for e in range(EDIT_WORDS):
        i = e * span + int(r.integers(1, span - 1))
        if out[i][0].isdigit() or i % 4 == 3:
            i -= 1
        out[i] = _word(int(r.integers(VOCAB)))
    return out


def _doc_tokens(seed: int, logical: int) -> Tuple[List[str], str]:
    family, member = divmod(logical, FAMILY)
    if member in EXACT_MEMBERS or member in CHAIN_MEMBERS:
        toks, lang, _ = _base_tokens(seed, family, 0)
        if member in CHAIN_MEMBERS:
            for link in range(CHAIN_MEMBERS.index(member) + 1):
                toks = _edit(toks, seed, family, link)
        return toks, lang
    toks, lang, _ = _base_tokens(seed, family, member)
    return toks, lang


def make_page(position: int, n: int, seed: int) -> Dict:
    logical = logical_index(position, n)
    toks, lang = _doc_tokens(seed, logical)
    paras = [" ".join(toks[i : i + 40]) for i in range(0, len(toks), 40)]
    html = (
        "<!DOCTYPE html><html><head><title>d</title></head><body><article>"
        + "".join(f"<p>{p}</p>" for p in paras)
        + "</article></body></html>"
    ).encode()
    tag = hashlib.blake2b(f"{seed}:{position}".encode(), digest_size=3).hexdigest()
    return {
        "url": f"https://dups.example.net/{tag}/{position:07d}",
        "warc_ts": _EPOCH + dt.timedelta(minutes=position),
        "html": html,
        "text": "\n".join(paras),
        "lang": lang,
    }


def file_of(position: int, n: int) -> int:
    return position * FILES // n


# ---------------------------------------------------------------------------
# Expected prepare corpus, computed without Spark
# ---------------------------------------------------------------------------

_NON_ALPHA = re.compile(r"[\W\d_]+", re.ASCII)
_NOT_PUNCT = re.compile(r"[\w\s]+", re.ASCII)
_WS = re.compile(r"\s+")


def gate_stats(text: str) -> Tuple[int, float]:
    """(n_tokens, quality) by the formulas of functions/textstats."""
    t = text or ""
    stripped = t.strip(" ")
    toks = [] if stripped == "" else _WS.split(stripped)
    spaced = " " + _WS.sub(" ", t.lower().strip(" ")) + " "
    hits = 0
    for lang in _LANGS:
        pat = re.compile("(?<= )(" + "|".join(_STOPWORDS[lang]) + ")(?= )")
        hits += len(pat.findall(spaced))
    n = len(t)
    if n == 0:
        return len(toks), 0.0
    alpha = len(_NON_ALPHA.sub("", t)) / max(n, 1)
    punct = len(_NOT_PUNCT.sub("", t)) / max(n, 1)
    score = (
        0.4 * alpha + 0.3 * min(1.0, len(toks) / 100.0) + 0.2 * (1.0 - punct)
        + 0.1 * min(1.0, hits / 10.0)
    )
    return len(toks), min(1.0, max(0.0, score))


def _shingle_ids(text: str, k: int = 3, max_tokens: int = 2000) -> List[bytes]:
    toks = text.split()[:max_tokens]
    if len(toks) < k:
        sh = [" ".join(toks)]
    else:
        sh = list(dict.fromkeys(" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)))
    return [hashlib.md5(s.encode()).digest() for s in sh]


def _signature(digests: List[bytes], num_hashes: int = 16) -> Tuple[np.ndarray, frozenset]:
    halves = np.frombuffer(b"".join(digests), dtype="<u8").reshape(-1, 2)
    h1, h2 = halves[:, 0], halves[:, 1]
    steps = np.arange(num_hashes, dtype=np.uint64)
    sig = (h1[:, None] + steps[None, :] * h2[:, None]).min(axis=0)
    return sig, frozenset(h1.tolist())


def expected_corpus(
    pages: List[Dict],
    min_tokens: int = 10,
    max_tokens: int = 100_000,
    min_quality: float = 0.5,
    threshold: float = 0.85,
    bands: int = 4,
    num_hashes: int = 16,
    max_bucket: int = 1000,
) -> Dict:
    """url -> md5(text) of the corpus ``prepare_training_data`` must return,
    plus the stage row counts of the funnel."""
    from jarvis_ocr_service_spark.operators.cascade import extract_document

    valid = {}
    for p in pages:
        res = extract_document(p["html"], p["lang"])
        if res["is_valid"]:
            valid[p["url"]] = res["text"]
    gated = {}
    for url, text in valid.items():
        n_tok, q = gate_stats(text)
        if min_tokens <= n_tok <= max_tokens and q >= min_quality:
            gated[url] = text
    by_digest: Dict[str, str] = {}
    for url in sorted(gated):
        by_digest.setdefault(hashlib.md5(gated[url].encode()).hexdigest(), url)
    exact = sorted(by_digest.values())

    sigs, sets = {}, {}
    for url in exact:
        sigs[url], sets[url] = _signature(_shingle_ids(gated[url]), num_hashes)
    rows = num_hashes // bands
    buckets: Dict[Tuple, List[str]] = defaultdict(list)
    for url in exact:
        for b in range(bands):
            buckets[(b, sigs[url][b * rows : (b + 1) * rows].tobytes())].append(url)
    cand = set()
    hot = 0
    for members in buckets.values():
        if len(members) > max_bucket:
            hot += 1
            continue
        for i, a in enumerate(members):
            for b in members[i + 1 :]:
                cand.add((min(a, b), max(a, b)))
    parent = {}

    def find(x):
        while parent.get(x, x) != x:
            x = parent[x]
        return x

    verified = 0
    for a, b in cand:
        sa, sb = sets[a], sets[b]
        inter = len(sa & sb)
        if inter / (len(sa) + len(sb) - inter) >= threshold:
            verified += 1
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
    corpus = {
        url: hashlib.md5(gated[url].encode()).hexdigest()
        for url in exact
        if find(url) == url
    }
    return {
        "corpus": corpus,
        "rows": {
            "valid": len(valid),
            "gated": len(gated),
            "exact": len(exact),
            "corpus": len(corpus),
        },
        "lsh_candidates": len(cand),
        "lsh_verified": verified,
        "hot_buckets": hot,
    }

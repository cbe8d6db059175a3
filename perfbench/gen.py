"""Seeded input generator for the benchmark.

Everything a workload feeds the library comes from here, built from the
run's ``--seed`` alone with numpy: the same seed gives byte-identical
inputs and the same planted truth; another seed gives other values of
the same size.  No Spark and no library code runs in this module, so
the truth it plants is independent of the code under test.

Tables
    ``lineitem``: TPC-H-shaped numeric/categorical columns.
    ``events``: timestamped values with an integer kind.

Corpora
    Documents are sequences of synthetic words drawn uniformly from a
    seeded vocabulary, so two unrelated documents share almost no
    character 8-grams.  ``neardup_corpus`` plants families (a base
    document plus near copies at a measured 5-gram Jaccard >= 0.9 with
    the base and >= 0.85 with each other) and far copies (8-gram Jaccard
    <= 0.4, must not be merged).  ``IngestStream``
    builds the incremental-ingest requests: exact re-crawls, revised
    editions and fresh documents against a sliding seen window.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

LINEITEM_ROWS = 600_000
EVENTS_ROWS = 100_000
RETURN_FLAGS = np.array(["A", "N", "R"])
DAY_S = 86_400
EVENTS_T0 = 1_700_006_400  # a UTC midnight

VERIFY_K = 8           # character k-gram of the exact verify step
LSH_K = 5              # character k-gram of the MinHash signature
NEAR_MIN_J5 = 0.9      # planted near copy against its source
FAMILY_MIN_J5 = 0.85   # any two members of a planted family
FAR_MAX_J8 = 0.4       # planted far copies: below the 0.5 verify cut


def _rng(seed: int, *stream: int) -> np.random.Generator:
    return np.random.default_rng([int(seed), *stream])


# ---------------------------------------------------------------------------
# tables
# ---------------------------------------------------------------------------

def lineitem(seed: int, n: int = LINEITEM_ROWS) -> pa.Table:
    r = _rng(seed, 1)
    qty = r.integers(1, 51, n).astype(np.float64)
    price = np.round(qty * r.uniform(900.0, 2100.0, n), 2)
    return pa.table({
        "l_quantity": qty,
        "l_extendedprice": price,
        "l_discount": r.integers(0, 11, n) / 100.0,
        "l_tax": r.integers(0, 9, n) / 100.0,
        "l_returnflag": RETURN_FLAGS[r.integers(0, 3, n)],
        "l_linenumber": r.integers(1, 8, n).astype(np.int64),
    })


def events(seed: int, n: int = EVENTS_ROWS) -> pa.Table:
    r = _rng(seed, 2)
    return pa.table({
        "ts": EVENTS_T0 + r.integers(0, 30 * DAY_S, n).astype(np.int64),
        "value": np.round(r.uniform(-5.0, 110.0, n), 3),
        "kind": r.integers(0, 12, n).astype(np.int64),
    })


# ---------------------------------------------------------------------------
# text
# ---------------------------------------------------------------------------

def vocabulary(seed: int, size: int = 20_000) -> np.ndarray:
    r = _rng(seed, 3)
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    lens = r.integers(3, 11, size)
    words = {"".join(r.choice(letters, k)) for k in lens}
    return np.array(sorted(words))


def shingles(text: str, k: int) -> set:
    """Distinct character k-grams; a text shorter than k is one gram
    (the library's shingling convention)."""
    return {text[i:i + k] for i in range(max(len(text) - k + 1, 1))}


def jaccard(a: str, b: str, k: int) -> float:
    sa, sb = shingles(a, k), shingles(b, k)
    return len(sa & sb) / len(sa | sb)


def _doc(r: np.random.Generator, vocab: np.ndarray) -> list:
    return list(vocab[r.integers(0, len(vocab), r.integers(60, 121))])


def _edit(r, vocab, words: list, n_edits: int) -> list:
    out = list(words)
    for pos in r.choice(len(out), size=min(n_edits, len(out)), replace=False):
        out[pos] = vocab[r.integers(0, len(vocab))]
    return out


def _near(r, vocab, base: str) -> str:
    words = base.split(" ")
    while True:
        cand = " ".join(_edit(r, vocab, words, int(r.integers(1, 3))))
        if cand != base and jaccard(base, cand, LSH_K) >= NEAR_MIN_J5:
            return cand


def neardup_corpus(seed: int, n_base: int = 800, n_families: int = 80,
                   n_far: int = 30, copies: int = 2) -> dict:
    """Documents with planted near-duplicate families: ``copies`` near
    copies of each family's base document, so every seed gives the same
    document and pair counts.

    Returns ``ids`` (int64), ``texts``, ``clusters`` (doc_id -> min doc
    id of its family, for every family member), ``pairs`` ((a, b) ->
    exact character-8-gram Jaccard for every within-family pair, a < b)
    and ``far`` (the far copies' (source, copy) ids).
    """
    r = _rng(seed, 4)
    vocab = vocabulary(seed)
    texts = [" ".join(_doc(r, vocab)) for _ in range(n_base)]
    sources = r.choice(n_base, size=n_families + n_far, replace=False)
    families = {}
    for s in sources[:n_families]:
        while True:
            near = [_near(r, vocab, texts[s]) for _ in range(copies)]
            if all(jaccard(a, b, LSH_K) >= FAMILY_MIN_J5
                   for i, a in enumerate(near) for b in near[i + 1:]):
                break
        fam = [int(s)]
        for t in near:
            texts.append(t)
            fam.append(len(texts) - 1)
        families[int(s)] = fam
    far = []
    for s in sources[n_families:]:
        words = texts[s].split(" ")
        while True:
            cand = " ".join(_edit(r, vocab, words, len(words) // 2))
            if jaccard(texts[s], cand, VERIFY_K) <= FAR_MAX_J8:
                break
        texts.append(cand)
        far.append((int(s), len(texts) - 1))
    # shuffle id assignment so family members are not adjacent
    ids = r.permutation(len(texts)).astype(np.int64) + 1
    clusters, pairs = {}, {}
    for fam in families.values():
        fid = sorted(int(ids[i]) for i in fam)
        for i in fam:
            clusters[int(ids[i])] = fid[0]
        for x in range(len(fam)):
            for y in range(x + 1, len(fam)):
                a, b = sorted((int(ids[fam[x]]), int(ids[fam[y]])))
                pairs[(a, b)] = jaccard(texts[fam[x]], texts[fam[y]], VERIFY_K)
    return {
        "ids": ids,
        "texts": texts,
        "clusters": clusters,
        "pairs": pairs,
        "far": [(int(ids[a]), int(ids[b])) for a, b in far],
    }


def docs_table(ids, texts) -> pa.Table:
    return pa.table({"doc_id": pa.array(np.asarray(ids, np.int64)),
                     "text": pa.array(list(texts), pa.string())})


# ---------------------------------------------------------------------------
# incremental ingest
# ---------------------------------------------------------------------------

class IngestStream:
    """A sliding seen window of ``n_seen`` documents and the batches
    probed against it.

    Batch ``i`` (``batch(i)``) holds ``n_each`` exact re-crawls of seen
    documents, ``n_each`` revised editions (one or two words changed,
    character-5-gram Jaccard >= 0.9 with their source) and ``n_each``
    fresh documents.  After batch ``i`` the window drops its oldest
    ``n_each`` documents and appends batch ``i``'s fresh ones, so the
    seen size never changes.  Document ids grow monotonically.
    """

    def __init__(self, seed: int, n_seen: int = 300, n_each: int = 20):
        self.seed, self.n_seen, self.n_each = seed, n_seen, n_each
        self.vocab = vocabulary(seed)
        r = _rng(seed, 5)
        self.seen_ids = np.arange(1, n_seen + 1, dtype=np.int64)
        self.seen_texts = [" ".join(_doc(r, self.vocab))
                           for _ in range(n_seen)]
        self.next_id = n_seen + 1
        self.step = 0

    def _take_ids(self, n: int) -> np.ndarray:
        out = np.arange(self.next_id, self.next_id + n, dtype=np.int64)
        self.next_id += n
        return out

    def batch(self) -> dict:
        """The next batch: ``ids``, ``texts`` and the truth ``kind``
        per document (``recrawl`` / ``revised`` / ``fresh``)."""
        r = _rng(self.seed, 6, self.step)
        m = self.n_each
        pick = r.choice(self.n_seen, size=2 * m, replace=False)
        recrawl = [self.seen_texts[i] for i in pick[:m]]
        revised = [_near(r, self.vocab, self.seen_texts[i])
                   for i in pick[m:]]
        fresh = [" ".join(_doc(r, self.vocab)) for _ in range(m)]
        texts = recrawl + revised + fresh
        kinds = ["recrawl"] * m + ["revised"] * m + ["fresh"] * m
        order = r.permutation(3 * m)
        ids = self._take_ids(3 * m)
        return {
            "ids": ids,
            "texts": [texts[j] for j in order],
            "kinds": [kinds[j] for j in order],
        }

    def advance(self, batch: dict) -> None:
        """Slide the seen window past ``batch``."""
        m = self.n_each
        fresh = [(i, t) for i, t, k in zip(batch["ids"], batch["texts"],
                                           batch["kinds"]) if k == "fresh"]
        self.seen_ids = np.concatenate(
            [self.seen_ids[m:], np.array([i for i, _ in fresh], np.int64)])
        self.seen_texts = self.seen_texts[m:] + [t for _, t in fresh]
        self.step += 1

"""Generator tests: a seed fixes the inputs and the planted truth; another
seed changes the inputs but not their size.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import numpy as np
import pytest

import gen
import histreq


def _same_table(a, b) -> bool:
    return a.schema == b.schema and a.equals(b)


@pytest.mark.parametrize("make", [gen.lineitem, gen.events])
def test_tables_repeat_per_seed_and_vary_across_seeds(make):
    a, b, c = make(5, 5_000), make(5, 5_000), make(6, 5_000)
    assert _same_table(a, b)
    assert c.num_rows == a.num_rows and c.schema == a.schema
    assert not _same_table(a, c)


def test_neardup_corpus_repeats_truth_per_seed():
    a, b = gen.neardup_corpus(5, n_base=200, n_families=20, n_far=10), \
        gen.neardup_corpus(5, n_base=200, n_families=20, n_far=10)
    assert np.array_equal(a["ids"], b["ids"]) and a["texts"] == b["texts"]
    assert a["clusters"] == b["clusters"] and a["pairs"] == b["pairs"]
    assert a["far"] == b["far"]


def test_neardup_corpus_other_seed_same_size():
    a = gen.neardup_corpus(5, n_base=200, n_families=20, n_far=10)
    c = gen.neardup_corpus(6, n_base=200, n_families=20, n_far=10)
    assert a["texts"] != c["texts"]
    # 200 base docs + 2 copies per family + one far copy each; each
    # family of 3 plants 3 pairs
    for x in (a, c):
        assert len(x["texts"]) == len(x["ids"]) == 200 + 2 * 20 + 10
        assert len(x["clusters"]) == 3 * 20
        assert len(x["pairs"]) == 3 * 20
        assert len(x["far"]) == 10


def test_neardup_planted_jaccards_are_on_the_right_side_of_the_cut():
    c = gen.neardup_corpus(7, n_base=200, n_families=20, n_far=10)
    text = dict(zip(c["ids"].tolist(), c["texts"]))
    assert c["pairs"] and all(j >= 0.5 for j in c["pairs"].values())
    assert all(gen.jaccard(text[a], text[b], gen.LSH_K) >= gen.FAMILY_MIN_J5
               for a, b in c["pairs"])
    assert all(c["clusters"][a] == c["clusters"][b] for a, b in c["pairs"])
    for src, far in c["far"]:
        assert gen.jaccard(text[src], text[far], gen.VERIFY_K) <= gen.FAR_MAX_J8
    # unrelated documents share almost nothing
    ids = sorted(text)[:20]
    assert max(gen.jaccard(text[x], text[y], gen.VERIFY_K)
               for x in ids for y in ids
               if x < y and (x, y) not in c["pairs"]) < 0.1


def _batches(seed, n=3):
    s = gen.IngestStream(seed, n_seen=300, n_each=20)
    out = []
    for _ in range(n):
        b = s.batch()
        out.append((b, list(s.seen_texts)))
        s.advance(b)
    return out, s


def test_ingest_stream_repeats_per_seed():
    (a, sa), (b, sb) = _batches(5), _batches(5)
    for (x, seen_x), (y, seen_y) in zip(a, b):
        assert np.array_equal(x["ids"], y["ids"])
        assert x["texts"] == y["texts"] and x["kinds"] == y["kinds"]
        assert seen_x == seen_y
    assert sa.seen_texts == sb.seen_texts


def test_ingest_stream_other_seed_same_size_and_constant_window():
    (a, sa), (c, sc) = _batches(5), _batches(6)
    for (x, seen_x), (y, seen_y) in zip(a, c):
        assert x["texts"] != y["texts"]
        assert len(x["ids"]) == len(y["ids"]) == 60
        assert len(seen_x) == len(seen_y) == 300
        assert sorted(x["kinds"]) == sorted(y["kinds"])
    assert len(sa.seen_ids) == len(sa.seen_texts) == 300


def test_ingest_truth_kinds():
    s = gen.IngestStream(9, n_seen=300, n_each=20)
    seen = set(s.seen_texts)
    b = s.batch()
    for t, k in zip(b["texts"], b["kinds"]):
        assert (t in seen) == (k == "recrawl")
        if k == "revised":
            assert max(gen.jaccard(t, x, gen.LSH_K) for x in seen) >= gen.NEAR_MIN_J5


def test_hist_requests_repeat_per_seed_and_cover_every_kind():
    a, b, c = (histreq.request_pool(s) for s in (5, 5, 6))
    assert a == b and a != c
    assert [r["kind"] for r in a] == [r["kind"] for r in c] == list(histreq.KINDS)


def test_hist_reference_counts_every_in_range_row():
    t = gen.lineitem(5, 2_000)
    tables = {"lineitem": {c: t.column(c).to_numpy(zero_copy_only=False)
                           for c in t.column_names}}
    req = {"kind": "regular", "table": "lineitem", "storage": "double",
           "axes": [("regular", "l_quantity", 50, 0.0, 50.0)]}
    ref = histreq.reference(req, tables)
    x = tables["lineitem"]["l_quantity"]
    # half-open bins: x == 50 is overflow, where numpy closes the last bin
    want, _ = np.histogram(x[x < 50.0], 50, (0.0, 50.0))
    assert np.array_equal(ref["counts"], want)

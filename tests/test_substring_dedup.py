"""Exact duplicated-substring removal (operators/dedup.exact_substring_dedup)."""

import pytest

from ohsome_planet_spark.operators.dedup import exact_substring_dedup


def _words(n, tag):
    return " ".join(f"{tag}{i}" for i in range(n))


@pytest.fixture(scope="module")
def docs(spark):
    shared = _words(6, "dup")  # 6 shared words -> flagged with window=4
    rows = [
        (0, f"{_words(5, 'a')} {shared} {_words(5, 'b')}"),
        (1, f"{_words(5, 'c')} {shared} {_words(5, 'd')}"),
        (2, _words(16, "e")),            # no duplicated span
        (3, _words(3, "f")),             # shorter than the window
        # within-doc repetition: same 4-word run twice in ONE doc
        (4, f"{_words(4, 'g')} x1 x2 {_words(4, 'g')} tail0 tail1"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _numpy_substring_dedup(rows, L, min_count):
    from collections import Counter
    words = {i: t.split(" ") for i, t in rows}
    spans = []
    for i, w in words.items():
        for s in range(len(w) - L + 1):
            spans.append((i, s, " ".join(w[s:s + L])))
    counts = Counter(h for _, _, h in spans)
    flagged = {}
    for i, s, h in spans:
        if counts[h] >= min_count:
            flagged.setdefault(i, set()).add(s)
    out = {}
    for i, w in words.items():
        starts = flagged.get(i, set())
        kept = [w[j] for j in range(len(w))
                if not any(s <= j < s + L for s in starts)]
        out[i] = (" ".join(kept), len(w), len(w) - len(kept))
    return out


def test_substring_dedup_matches_replay(docs):
    rows = [(r["doc_id"], r["text"]) for r in docs.collect()]
    want = _numpy_substring_dedup(rows, L=4, min_count=2)
    got = {r["doc_id"]: (r["clean_text"], r["n_words"], r["n_dropped_words"])
           for r in exact_substring_dedup(docs, window=4, min_count=2).collect()}
    assert got == want


def test_substring_dedup_semantics(docs):
    got = {r["doc_id"]: r.asDict()
           for r in exact_substring_dedup(docs, window=4, min_count=2).collect()}
    # the shared 6-word run vanishes from BOTH docs (remove-all variant);
    # boundary windows contain unique words so prefixes/suffixes survive
    for i in (0, 1):
        assert "dup0" not in got[i]["clean_text"]
        assert got[i]["n_dropped_words"] == 6
    assert got[0]["clean_text"].startswith("a0") and got[0]["clean_text"].endswith("b4")
    # clean docs untouched; short docs pass through whole
    assert got[2]["n_dropped_words"] == 0
    assert got[3]["clean_text"] == "f0 f1 f2" and got[3]["n_words"] == 3
    # within-ONE-doc repeats count toward min_count: both g-runs removed
    assert got[4]["n_dropped_words"] == 8
    assert got[4]["clean_text"] == "x1 x2 tail0 tail1"


def test_substring_dedup_deterministic_across_partitioning(docs):
    a = sorted(map(tuple, exact_substring_dedup(docs, window=4).collect()))
    b = sorted(map(tuple,
                   exact_substring_dedup(docs.repartition(7), window=4).collect()))
    assert a == b

"""Independent-reference parity for span_dedup.

A ~35-line pure-Python model of the declared winner rule (every k-token
window hashed; the single occurrence at the smallest (doc, position)
wins; every other occurrence marks its k tokens; marked windows closer
than a full kept gap merge into maximal spans; spans are cut and the doc
reassembled) is compared EXACTLY against the operator on randomized
corpora. This pins the DataFrame formulation (staged shingles,
min-struct winner, gaps-and-islands merge, complement slicing —
operators/dedup.py:span_dedup) to the semantics rather than to itself;
the fixed-case tests in test_dedup_similarity_text.py can't see a bug
that the formulation and the expectation share.

Corpora are seeded-random over a small word alphabet so identical
windows arise naturally (8^k possible k-grams), plus planted structure:
exact doc copies, a middle slice embedded in unrelated text, self-repeat
docs, docs shorter than k, the empty string, and runs of multiple
spaces (empty tokens — split/join on a single space must round-trip
them)."""

from __future__ import annotations

import random


def model_span_dedup(docs: dict[int, str], k: int) -> dict[int, tuple]:
    """Pure-Python reference: returns {doc_id: (clean, n_tokens, n_dup)}."""
    toks = {d: t.split(" ") for d, t in docs.items()}
    occ: dict[tuple, list] = {}
    for d in sorted(toks):
        ts = toks[d]
        for i in range(len(ts) - k + 1):
            occ.setdefault(tuple(ts[i : i + k]), []).append((d, i))
    loser_pos: dict[int, list] = {}
    for ps in occ.values():
        for d, p in sorted(ps)[1:]:
            loser_pos.setdefault(d, []).append(p)
    out = {}
    for d, ts in toks.items():
        spans: list[list[int]] = []
        for p in sorted(loser_pos.get(d, [])):
            if spans and p - spans[-1][2] <= k:
                spans[-1][1] = max(spans[-1][1], p + k)
                spans[-1][2] = p
            else:
                spans.append([p, p + k, p])  # [start, end, last_window_pos]
        cut = {i for s, e, _ in spans for i in range(s, e)}
        kept = [t for i, t in enumerate(ts) if i not in cut]
        out[d] = (" ".join(kept), len(ts), sum(e - s for s, e, _ in spans))
    return out


def _random_corpus(seed: int) -> dict[int, str]:
    rng = random.Random(seed)
    words = ["ax", "by", "cz", "dw", "ev", "fu", "gt", "hs"]
    docs: dict[int, str] = {}
    did = 0
    for _ in range(60):
        n = rng.randrange(0, 40)
        docs[did] = " ".join(rng.choice(words) for _ in range(n))
        did += 1
    # planted structure
    base = " ".join(rng.choice(words) for _ in range(25))
    docs[did] = base; did += 1                     # original
    docs[did] = base; did += 1                     # exact copy
    mid = " ".join(base.split(" ")[8:18])
    noise = lambda n: " ".join(rng.choice(words) for _ in range(n))  # noqa: E731
    docs[did] = f"{noise(6)} {mid} {noise(6)}"; did += 1   # embedded slice
    pat = noise(7)
    docs[did] = f"{pat} {pat} {pat}"; did += 1             # self-repeat
    docs[did] = "ax by"; did += 1                          # shorter than k
    docs[did] = ""; did += 1                               # empty
    docs[did] = "ax  by   cz ax  by   cz"; did += 1        # empty tokens
    return docs


def test_span_dedup_matches_independent_reference(spark):
    from geofeaturegeneration_spark.operators import span_dedup

    k = 4
    for seed in (7, 23, 101):
        docs = _random_corpus(seed)
        df = spark.createDataFrame(
            sorted(docs.items()), "doc_id INT, text STRING"
        )
        got = {
            r.doc_id: (r.clean, r.n_tokens, r.n_dup_tokens)
            for r in span_dedup(df, "doc_id", "text", k=k).collect()
        }
        want = model_span_dedup(docs, k)
        assert set(got) == set(want), f"seed {seed}: doc set differs"
        for d in sorted(want):
            assert got[d] == want[d], (
                f"seed {seed} doc {d}: operator {got[d]!r} != model {want[d]!r}"
                f" (text={docs[d]!r})"
            )


def test_span_dedup_reference_model_sanity():
    """The model itself behaves as declared on a hand-checkable case —
    guards against the reference and operator sharing a misreading."""
    k = 2
    docs = {0: "a b c d", 1: "a b c d", 2: "x a b y"}
    out = model_span_dedup(docs, k)
    # doc 0 is the global winner everywhere: untouched
    assert out[0] == ("a b c d", 4, 0)
    # doc 1 duplicates every window of doc 0: fully cut
    assert out[1] == ("", 4, 4)
    # doc 2 shares only window (a,b): loses tokens 1-2
    assert out[2] == ("x y", 4, 2)

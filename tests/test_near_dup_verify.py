"""The exact-Jaccard verify step of the near-dup operators, checked
against a plain-Python reference at a document-frequency cap that
bites.

The reference takes each operator's own candidate pairs (the LSH band
collisions of ``band_keys``, or ``winnow_near_dup_pairs``), counts each
shingle's document frequency over the candidate documents only, drops
shingles above the cap from both sets, and keeps a pair when it still
shares a shingle and its round-4 Jaccard reaches the threshold. The
reference does not import ``ocr_spark``.

Document frequency counts each candidate document once per side. For
self pairs there is one side: a document that is ``doc_a`` of one pair
and ``doc_b`` of another counts once. For cross-corpus pairs the two
sides are counted apart, so an increment document and a committed
document with the same id both count. The corpus is chosen so that
each of these rules, and the cap itself, changes the verified pairs.
"""

import random
import re
from decimal import ROUND_HALF_UP, Decimal

import pandas as pd
import pytest

THRESHOLD = 0.05
N = 3


def _corpus(seed=1, families=4, members=5, loners=4, length=16):
    """Families of near-duplicate texts (two words changed per member)
    plus unrelated loners; most texts open with one shared phrase, so
    its shingles have a document frequency far above a small cap."""
    rnd = random.Random(seed)
    vocab = [f"w{i}" for i in range(60)]
    texts = []
    for _ in range(families):
        base = [rnd.choice(vocab) for _ in range(length)]
        for _ in range(members):
            t = list(base)
            for _ in range(2):
                t[rnd.randrange(length)] = rnd.choice(vocab)
            s = " ".join(t)
            if rnd.random() < 0.6:
                s = "read more below " + s
            texts.append(s)
    for _ in range(loners):
        texts.append(
            "read more below "
            + " ".join(rnd.choice(vocab) for _ in range(length))
        )
    return texts


TEXTS = _corpus()
# cross-corpus split: two members of each family are committed, the
# rest plus the loners form the increment; both sides number from 0
COMMITTED = [t for i, t in enumerate(TEXTS[:20]) if i % 5 < 2]
INCREMENT = [t for i, t in enumerate(TEXTS[:20]) if i % 5 >= 2] + TEXTS[20:]


def _shingles(text):
    toks = re.split(r"\s+", text.strip(" "))
    if len(toks) < N:
        return set()
    return {" ".join(toks[i:i + N]) for i in range(len(toks) - N + 1)}


def _round4(x):
    return float(Decimal(repr(x)).quantize(Decimal("0.0001"), ROUND_HALF_UP))


def _reference(cands, texts_a, texts_b, max_df, df_sets):
    """{(a, b): jaccard} of the candidate pairs that verify, with
    document frequency counted over the shingle sets ``df_sets``."""
    sh_a = {i: _shingles(t) for i, t in enumerate(texts_a)}
    sh_b = {i: _shingles(t) for i, t in enumerate(texts_b)}
    df = {}
    for s in df_sets(cands, sh_a, sh_b):
        for x in s:
            df[x] = df.get(x, 0) + 1
    out = {}
    for a, b in cands:
        xa = {x for x in sh_a[a] if df[x] <= max_df}
        xb = {x for x in sh_b[b] if df[x] <= max_df}
        inter = len(xa & xb)
        if inter >= 1:
            j = _round4(inter / (len(xa) + len(xb) - inter))
            if j >= THRESHOLD:
                out[(a, b)] = j
    return out


def _self_docs(cands, sh_a, _sh_b):
    """Self pairs: each candidate document once."""
    return [sh_a[d] for d in {d for p in cands for d in p}]


def _per_role(cands, sh_a, _sh_b):
    """Wrong for self pairs: a document counted once per role."""
    return [sh_a[a] for a in {a for a, _ in cands}] + [
        sh_a[b] for b in {b for _, b in cands}
    ]


def _cross_docs(cands, sh_a, sh_b):
    """Cross pairs: each candidate document once per side."""
    return [sh_a[a] for a in {a for a, _ in cands}] + [
        sh_b[b] for b in {b for _, b in cands}
    ]


def _side_blind(cands, sh_a, sh_b):
    """Wrong for cross pairs: one count per id, whatever its side."""
    ids_a = {a for a, _ in cands}
    ids_b = {b for _, b in cands}
    return [
        (sh_a[d] if d in ids_a else set()) | (sh_b[d] if d in ids_b else set())
        for d in ids_a | ids_b
    ]


def _docs(spark, texts):
    return spark.createDataFrame(
        pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    )


def _band_pairs(keys_a, keys_b, self_pairs):
    """Candidate pairs from two ``band_keys`` results: ids sharing a
    (band, band_key), with doc_a < doc_b for self pairs."""
    bucket = {}
    for r in keys_b:
        bucket.setdefault((r.band, r.band_key), set()).add(r.doc_id)
    return {
        (r.doc_id, d)
        for r in keys_a
        for d in bucket.get((r.band, r.band_key), ())
        if not self_pairs or r.doc_id < d
    }


def _minhash_lsh(spark, max_df):
    from ocr_spark.operators.dedup import band_keys, minhash_lsh_pairs

    docs = _docs(spark, TEXTS)
    keys = band_keys(docs).collect()
    got = minhash_lsh_pairs(docs, max_df=max_df).collect()
    return (
        _band_pairs(keys, keys, True),
        {(r.doc_a, r.doc_b): r.jaccard for r in got},
        (TEXTS, TEXTS, _self_docs, _per_role),
    )


def _winnow_verified(spark, max_df):
    from ocr_spark.operators.sketches import (
        winnow_near_dup_pairs,
        winnow_verified_pairs,
    )

    docs = _docs(spark, TEXTS)
    cands = winnow_near_dup_pairs(docs).select("doc_a", "doc_b").collect()
    got = winnow_verified_pairs(docs, jaccard_max_df=max_df).collect()
    return (
        {(r.doc_a, r.doc_b) for r in cands},
        {(r.doc_a, r.doc_b): r.jaccard for r in got},
        (TEXTS, TEXTS, _self_docs, _per_role),
    )


def _incremental_verified(spark, max_df):
    from ocr_spark.operators.dedup import (
        band_keys,
        incremental_minhash_verified,
    )

    inc = _docs(spark, INCREMENT)
    com = _docs(spark, COMMITTED)
    com_keys = band_keys(com)
    got = incremental_minhash_verified(
        inc, com_keys, com, max_df=max_df
    ).collect()
    return (
        _band_pairs(band_keys(inc).collect(), com_keys.collect(), False),
        {(r.doc_id, r.committed_id): r.jaccard for r in got},
        (INCREMENT, COMMITTED, _cross_docs, _side_blind),
    )


@pytest.mark.parametrize("max_df", [3, 4])
@pytest.mark.parametrize(
    "run", [_minhash_lsh, _winnow_verified, _incremental_verified],
    ids=["minhash_lsh", "winnow_verified", "incremental_verified"],
)
def test_verify_df_cap_matches_reference(spark, run, max_df):
    cands, got, (texts_a, texts_b, df_sets, wrong_df_sets) = run(
        spark, max_df
    )
    want = _reference(cands, texts_a, texts_b, max_df, df_sets)
    # the corpus makes the cap bite, and counting document frequency
    # by the wrong rule would change the verified pairs
    assert want != _reference(cands, texts_a, texts_b, 10**6, df_sets)
    assert want != _reference(cands, texts_a, texts_b, max_df, wrong_df_sets)
    assert got == want

"""Top-10 weights, pinned bit for bit.

For each weighting scheme and query shape below, the top-10
``(doc_id, weight.hex())`` rows of ``mset_df`` on the shared test index
must hash to the constant here.  This is stricter than the oracle tests'
1e-9 tolerance: any change to how a per-term constant reaches the scoring
expression, or to the order of its float64 operations, changes a hash.
The constants were computed while every per-term constant was still
inlined into the scoring expression as a double literal.
"""

from __future__ import annotations

import hashlib

import pytest

from xapian_spark.functions.weights import (
    BM25Scheme,
    DiceScheme,
    LMJMScheme,
    PL2Scheme,
    TfIdfScheme,
)
from xapian_spark.plans import query as Q

SCHEMES = {
    "bm25": BM25Scheme,
    "pl2": PL2Scheme,
    "tfidf": TfIdfScheme,
    "lmjm": LMJMScheme,
    "dice": DiceScheme,
}

SHAPES = {
    "term": Q.Term("binary_search"),
    "or_dup": Q.Or([Q.Term("binary_search"), Q.Term("binary_search"), Q.Term("merge_sort")]),
    "and": Q.And([Q.Term("return"), Q.Term("if")]),
    "phrase_repeat": Q.Phrase(
        [Q.Term("return"), Q.Term("binary_search"), Q.Term("return")], window=20
    ),
    "scale_or": Q.Or([Q.ScaleWeight(Q.Term("binary_search"), 2.5), Q.Term("merge_sort")]),
    "wildcard300": Q.Wildcard("*", combiner="or", max_expansion=300, limit_policy="most_frequent"),
    "wand": Q.Or([Q.Term("return"), Q.Term("if"), Q.Term("binary_search")]),
}

TOP10_SHA256 = {
    "bm25/term": "ef9230a05824fa081696127d0a9a47ade6143317faa7704206b47849f9b12a75",
    "bm25/or_dup": "567b75dc6f4bdb707901e555e22ac30b3f94cb41c58c0d2085c38d3f5b930880",
    "bm25/and": "7f328307200b1f6d4c27029465b79611edc9395f553ad3b49dd0867350a7671b",
    "bm25/phrase_repeat": "08047b7e41f0804deae93bdcdeb7a53da1a2fe627323a9b41b499c4debfec73a",
    "bm25/scale_or": "1f826857523af43db00554c9d9c26affe519f6a890b45367aa61178f5322bf4b",
    "bm25/wildcard300": "4e0ebba7075f986d3aaf44a3fe5bf7b691e5b6a7ab26ef1e44713126bc9925ca",
    "bm25/wand": "cf08571f6012b71eb7f413e08598099c11d88fbcd5fb50c1035d900db06ee591",
    "dice/term": "07ecf3120c2c3bd26c2e77b677e2e63513a6cb3f40960c45ac2eef50435ef08d",
    "dice/or_dup": "40785c1a76131c1edfb5daf3d93c63c83ddf4888b862cdafb978a3bc647b1de1",
    "dice/and": "07fb2ae35a0a4916527c9ebb6002f06d8c94c04ab1e26aeeefca0b091d7331a3",
    "dice/phrase_repeat": "1b6741b02da71597467249fd4310d7894b420b51e82dd9dcbb99340a94c39396",
    "dice/scale_or": "4395c401d03b4c3ec7be362c422a9cc084cc1927cfba9c593b4ad65f9d0ebad5",
    "dice/wildcard300": "edd0882a222877436b60b0a6b6347a226734926aace8afa6bf5bce4d0bb83ac7",
    "dice/wand": "00e78900b65585e5428b398659c7b98db5f514f6c84b1903322221b192bc1c40",
    "lmjm/term": "ba3d5a6b33035380e94ee48292b229384614262e957ffe55c3e9547190c0614e",
    "lmjm/or_dup": "0f171798aece52d9b9997637cb87cdaed3e6d40400f77455e74acadfd5355b16",
    "lmjm/and": "99bbc479c4767748ce8901ab83c3ec3068a763e207966f14805ef12663582a51",
    "lmjm/phrase_repeat": "677d6d350a1ba1e9f6b9dff0285f533438b06c01900f40302deb59d9deb359c3",
    "lmjm/scale_or": "f71c3082ed1b38817a485429482092fd681858d6a160c190eab6b5dc2d90decc",
    "lmjm/wildcard300": "24d71214c8b2f085a0b7cd5b8c648963d230e5adff7d3402b36e9cc77ef7e24e",
    "lmjm/wand": "697a1ba0e3267055a6b377f310cb50788e968b9bc10dfe4e7d224973f75f9fb7",
    "pl2/term": "906cbdf8eaffc5ffc192df3e7e83551476758656dd1733b75429ec0cffcf0120",
    "pl2/or_dup": "f8f7c2874f78e3e12a6fb33d1b29faf45c120b049fe28c4755e75396aa0b607f",
    "pl2/and": "f36a276bd8cf1d5a08a1a7d50d27dcf7ddc457236d65d948a3dfa567f41ff330",
    "pl2/phrase_repeat": "8cf631da0742b53cd2d81629808b2b74108347e5449627d59a65a33c41a57430",
    "pl2/scale_or": "e901a3059090219ce65d493f27d7cd6f7fb4fde731b62a2c8288be72a9923f04",
    "pl2/wildcard300": "48636b1a2a140888be159d0976376dd3aa02b07c9ed5c7ec6e28c3bc9b92f6e7",
    "pl2/wand": "de44683dfb0947e23bb150dc964137785d318a10368983b148f8fdef70f1e290",
    "tfidf/term": "4c3d33dac6ac114d87b82e10f70ecac05e84b3fb0b5fc083b473d19327bdef8a",
    "tfidf/or_dup": "8ecc8c5e51c2d9725f336f118138b6761f5f69188d7f709265897916acb57267",
    "tfidf/and": "578929bf51f41ae37111b73768bf0915e39a238a2e514bb20f25260456ff4b8e",
    "tfidf/phrase_repeat": "e7184bd11b694b9caf05f995b7fc9c3cde195345488ad3b5e0e3ef182927aad3",
    "tfidf/scale_or": "1f9becc345d038ebfd186098ebc030af73e55da9ec243685212df1a194d8f9b5",
    "tfidf/wildcard300": "71f28097b1cb27d789a2067ca1ae08e8b4a53c90b05c64fb88e3eac6949fb0a5",
    "tfidf/wand": "74587a850bb2ed13fb7788d9c5bcf0b1535a055a1f1c3f8c26dbab7184562eb6",
}


def top10_sha256(m, shape: str) -> str:
    rows = m.mset_df(SHAPES[shape], 10, prune=shape == "wand").collect()
    assert rows, shape
    pinned = [(r["doc_id"], float(r["weight"]).hex()) for r in rows]
    return hashlib.sha256(repr(pinned).encode()).hexdigest()


@pytest.mark.parametrize("scheme", sorted(SCHEMES))
def test_top10_weights_pinned(scheme, spark, index):
    from xapian_spark.operators.matcher import Matcher

    m = Matcher(spark, index, scheme=SCHEMES[scheme]())
    got = {shape: top10_sha256(m, shape) for shape in SHAPES}
    want = {shape: TOP10_SHA256[f"{scheme}/{shape}"] for shape in SHAPES}
    assert got == want

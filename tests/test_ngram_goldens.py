"""Golden ports of the reference's NGramTest
(/root/reference/src/test/java/com/cybozu/labs/langdetect/util/NGramTest.java).

Every assertion from the JUnit file is replicated against our normalization
table, Vietnamese fold, and scanner — plus equivalence between the faithful
scanner and the vectorized extractor on random inputs.
"""

import numpy as np
import pytest

from language_detection_spark.functions.ngram import (
    N_GRAM,
    NGramScanner,
    extract_gram_keys,
    extract_ngrams_scanner,
    pack_gram,
    unpack_gram,
)
from language_detection_spark.functions.normalize import (
    normalize_char,
    normalize_vi,
)


def test_constants():
    assert N_GRAM == 3  # NGramTest.java:19-22


def test_normalize_with_latin():  # NGramTest.java:27-46
    cases = {
        "\u0000": " ", "\u0009": " ", "\u0020": " ", "\u0030": " ",
        "\u0040": " ", "\u0041": "\u0041", "\u005a": "\u005a",
        "\u005b": " ", "\u0060": " ", "\u0061": "\u0061",
        "\u007a": "\u007a", "\u007b": " ", "\u007f": " ",
        "\u0080": "\u0080", "\u00a0": " ", "\u00a1": "\u00a1",
    }
    for src, want in cases.items():
        assert normalize_char(src) == want, hex(ord(src))


def test_normalize_with_cjk_kanji():  # NGramTest.java:51-79
    cases = {
        "一": "一", "丁": "丁", "丂": "丂",
        "七": "丁", "丄": "丄", "丅": "丅",
        "丆": "丆", "万": "万", "丈": "丈",
        "三": "三", "丐": "丐", "丑": "丑",
        "丒": "丒", "专": "专", "且": "且",
        "丕": "丕", "丞": "丞", "丟": "丟",
        "丠": "丠", "両": "両", "丢": "丢",
        "丣": "丣", "两": "专", "严": "专",
        "丰": "丰",
    }
    for src, want in cases.items():
        assert normalize_char(src) == want, hex(ord(src))


def test_normalize_for_romanian():  # NGramTest.java:84-91
    assert normalize_char("ş") == "ş"
    assert normalize_char("ţ") == "ţ"
    assert normalize_char("ș") == "ş"
    assert normalize_char("ț") == "ţ"


def test_ngram_scanner_walkthrough():  # NGramTest.java:96-148
    ng = NGramScanner()
    for n in (0, 1, 2, 3, 4):
        assert ng.get(n) is None
    ng.add_char(" ")
    assert ng.get(1) is None and ng.get(2) is None and ng.get(3) is None
    ng.add_char("A")
    assert ng.get(1) == "A"
    assert ng.get(2) == " A"
    assert ng.get(3) is None
    ng.add_char("ی")
    assert ng.get(1) == "ي"
    assert ng.get(2) == "Aي"
    assert ng.get(3) == " Aي"
    ng.add_char("Ạ")
    assert ng.get(1) == "ể"
    assert ng.get(2) == "يể"
    assert ng.get(3) == "Aيể"
    ng.add_char("い")
    assert ng.get(1) == "あ"
    assert ng.get(2) == "ểあ"
    assert ng.get(3) == "يểあ"
    ng.add_char("イ")
    assert ng.get(1) == "ア"
    assert ng.get(2) == "あア"
    assert ng.get(3) == "ểあア"
    ng.add_char("ㄆ")
    assert ng.get(1) == "ㄅ"
    assert ng.get(2) == "アㄅ"
    assert ng.get(3) == "あアㄅ"
    ng.add_char("각")
    assert ng.get(1) == "가"
    assert ng.get(2) == "ㄅ가"
    assert ng.get(3) == "アㄅ가"
    ng.add_char("‐")
    assert ng.get(1) is None
    assert ng.get(2) == "가 "
    assert ng.get(3) == "ㄅ가 "
    ng.add_char("a")
    assert ng.get(1) == "a"
    assert ng.get(2) == " a"
    assert ng.get(3) is None


def test_ngram3_scanner():  # NGramTest.java:154-173
    ng = NGramScanner()
    ng.add_char("A")
    assert ng.get(1) == "A"
    assert ng.get(2) == " A"
    assert ng.get(3) is None
    ng.add_char("1")
    assert ng.get(1) is None
    assert ng.get(2) == "A "
    assert ng.get(3) == " A "
    ng.add_char("B")
    assert ng.get(1) == "B"
    assert ng.get(2) == " B"
    assert ng.get(3) is None


# NGramTest.java:179-311 — all 120 normalize_vi composition goldens
_VI_GOLDENS_0300 = {
    "A": "À", "E": "È", "I": "Ì",
    "O": "Ò", "U": "Ù", "Y": "Ỳ",
    "a": "à", "e": "è", "i": "ì",
    "o": "ò", "u": "ù", "y": "ỳ",
    "Â": "Ầ", "Ê": "Ề", "Ô": "Ồ",
    "â": "ầ", "ê": "ề", "ô": "ồ",
    "Ă": "Ằ", "ă": "ằ", "Ơ": "Ờ",
    "ơ": "ờ", "Ư": "Ừ", "ư": "ừ",
}
_VI_GOLDENS_0301 = {
    "A": "Á", "E": "É", "I": "Í",
    "O": "Ó", "U": "Ú", "Y": "Ý",
    "a": "á", "e": "é", "i": "í",
    "o": "ó", "u": "ú", "y": "ý",
    "Â": "Ấ", "Ê": "Ế", "Ô": "Ố",
    "â": "ấ", "ê": "ế", "ô": "ố",
    "Ă": "Ắ", "ă": "ắ", "Ơ": "Ớ",
    "ơ": "ớ", "Ư": "Ứ", "ư": "ứ",
}
_VI_GOLDENS_0303 = {
    "A": "Ã", "E": "Ẽ", "I": "Ĩ",
    "O": "Õ", "U": "Ũ", "Y": "Ỹ",
    "a": "ã", "e": "ẽ", "i": "ĩ",
    "o": "õ", "u": "ũ", "y": "ỹ",
    "Â": "Ẫ", "Ê": "Ễ", "Ô": "Ỗ",
    "â": "ẫ", "ê": "ễ", "ô": "ỗ",
    "Ă": "Ẵ", "ă": "ẵ", "Ơ": "Ỡ",
    "ơ": "ỡ", "Ư": "Ữ", "ư": "ữ",
}
_VI_GOLDENS_0309 = {
    "A": "Ả", "E": "Ẻ", "I": "Ỉ",
    "O": "Ỏ", "U": "Ủ", "Y": "Ỷ",
    "a": "ả", "e": "ẻ", "i": "ỉ",
    "o": "ỏ", "u": "ủ", "y": "ỷ",
    "Â": "Ẩ", "Ê": "Ể", "Ô": "Ổ",
    "â": "ẩ", "ê": "ể", "ô": "ổ",
    "Ă": "Ẳ", "ă": "ẳ", "Ơ": "Ở",
    "ơ": "ở", "Ư": "Ử", "ư": "ử",
}
_VI_GOLDENS_0323 = {
    "A": "Ạ", "E": "Ẹ", "I": "Ị",
    "O": "Ọ", "U": "Ụ", "Y": "Ỵ",
    "a": "ạ", "e": "ẹ", "i": "ị",
    "o": "ọ", "u": "ụ", "y": "ỵ",
    "Â": "Ậ", "Ê": "Ệ", "Ô": "Ộ",
    "â": "ậ", "ê": "ệ", "ô": "ộ",
    "Ă": "Ặ", "ă": "ặ", "Ơ": "Ợ",
    "ơ": "ợ", "Ư": "Ự", "ư": "ự",
}


@pytest.mark.parametrize(
    "dmark,goldens",
    [
        ("̀", _VI_GOLDENS_0300),
        ("́", _VI_GOLDENS_0301),
        ("̃", _VI_GOLDENS_0303),
        ("̉", _VI_GOLDENS_0309),
        ("̣", _VI_GOLDENS_0323),
    ],
)
def test_normalize_vietnamese(dmark, goldens):
    assert normalize_vi("") == ""
    assert normalize_vi("ABC") == "ABC"
    assert normalize_vi("012") == "012"
    assert normalize_vi("À") == "À"
    for base, want in goldens.items():
        assert normalize_vi(base + dmark) == want, (hex(ord(base)), hex(ord(dmark)))


def test_pack_unpack_roundtrip():
    for g in ["a", " a", "ab ", "가", " Aي", "あアㄅ"]:
        assert unpack_gram(pack_gram(g)) == g


def test_vectorized_matches_scanner_random():
    """Multiset equivalence of extract_gram_keys vs the faithful scanner on
    random unicode (mirrors the reference's property-test style,
    TestLangIdV3.java:80-112)."""
    rng = np.random.default_rng(42)
    pools = [
        (0x20, 0x7E), (0xA0, 0x17F), (0x300, 0x36F), (0x3040, 0x30FF),
        (0x4E00, 0x4FFF), (0xAC00, 0xACFF), (0x1F600, 0x1F64F),
    ]
    for _ in range(60):
        n = int(rng.integers(0, 80))
        cps = []
        for _ in range(n):
            lo, hi = pools[int(rng.integers(0, len(pools)))]
            cps.append(int(rng.integers(lo, hi + 1)))
        text = "".join(chr(c) for c in cps)
        want = sorted(pack_gram(g) for g in extract_ngrams_scanner(text))
        got = sorted(int(k) for k in extract_gram_keys(text))
        assert got == want, text.encode("unicode_escape")


def test_batched_extractor_matches_per_doc_random():
    """extract_gram_keys_batch must be BIT-identical per document to the
    one-document closed form — same keys, same order — because detector
    draw indices map positionally into the per-doc key array (bitwise
    reproducibility depends on it).  Random unicode incl. spaces, caps
    runs, empties, and docs adjacent to each other in the batch."""
    from language_detection_spark.functions.ngram import extract_gram_keys_batch
    from tests.kernel_arbiters import gram_keys_closed_form

    rng = np.random.default_rng(7)
    pools = [
        (0x20, 0x7E), (0x41, 0x5A), (0xA0, 0x17F), (0x3040, 0x30FF),
        (0xAC00, 0xACFF), (0x1F600, 0x1F64F),
    ]
    docs = ["", " ", "  ", "A", "AB CD ef", "a" * 3]
    for _ in range(120):
        n = int(rng.integers(0, 60))
        cps = []
        for _ in range(n):
            lo, hi = pools[int(rng.integers(0, len(pools)))]
            cps.append(int(rng.integers(lo, hi + 1)))
        docs.append("".join(chr(c) for c in cps))
    batch = extract_gram_keys_batch(docs)
    assert len(batch) == len(docs)
    for t, got in zip(docs, batch):
        want = gram_keys_closed_form(t)
        assert want.dtype == got.dtype == np.int64
        assert np.array_equal(want, got), t.encode("unicode_escape")
        assert np.array_equal(extract_gram_keys(t), got)

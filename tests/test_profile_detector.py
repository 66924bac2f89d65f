"""Golden ports of LangProfileTest + DetectorTest
(/root/reference/src/test/java/com/cybozu/labs/langdetect/util/LangProfileTest.java,
 /root/reference/src/test/java/com/cybozu/labs/langdetect/DetectorTest.java)
plus round-trip checks against the bundled reference profiles and
faithful-vs-vectorized detector agreement.
"""

import json
import os

import numpy as np
import pytest

from language_detection_spark.models.factory import DetectorModel
from language_detection_spark.models.profile import LangProfile
from language_detection_spark.operators.detector import (
    Detector,
    detect_batch,
)

TRAINING_EN = "a a a b b c c d e"
TRAINING_FR = "a b b c c c d d d"
TRAINING_JA = "あ あ あ い う え え"
JSON_LANG1 = (
    '{"freq":{"A":3,"B":6,"C":3,"AB":2,"BC":1,"ABC":2,"BBC":1,"CBA":1},'
    '"n_words":[12,3,4],"name":"lang1"}'
)
JSON_LANG2 = (
    '{"freq":{"A":6,"B":3,"C":3,"AA":3,"AB":2,"ABC":1,"ABA":1,"CAA":1},'
    '"n_words":[12,5,3],"name":"lang2"}'
)


def tiny_model() -> DetectorModel:
    profiles = []
    for name, training in [("en", TRAINING_EN), ("fr", TRAINING_FR), ("ja", TRAINING_JA)]:
        p = LangProfile(name)
        for w in training.split(" "):
            p.add_ngram(w)
        profiles.append(p)
    return DetectorModel.from_profiles(profiles)


# --- LangProfileTest ports -------------------------------------------------

def test_lang_profile_name():  # LangProfileTest.java:21-26
    assert LangProfile("en").name == "en"


def test_lang_profile_add():  # LangProfileTest.java:31-40
    p = LangProfile("en")
    p.add_ngram("a")
    assert p.freq["a"] == 1
    p.add_ngram("a")
    assert p.freq["a"] == 2
    p.omit_less_freq()


def test_lang_profile_add_illegal():  # LangProfileTest.java:45-69
    p = LangProfile("en")
    p.add_ngram("a")
    with pytest.raises(ValueError):
        p.add_ngram("")
    with pytest.raises(ValueError):
        p.add_ngram("abcd")
    assert p.freq["a"] == 1
    assert "" not in p.freq and "abcd" not in p.freq


def test_omit_less_freq():  # LangProfileTest.java:75-97
    p = LangProfile("en")
    grams = "a b c あ い う え お か が き ぎ く".split(" ")
    for _ in range(5):
        for g in grams:
            p.add_ngram(g)
    p.add_ngram("ぐ")
    assert p.freq["a"] == 5
    assert p.freq["あ"] == 5
    assert p.freq["ぐ"] == 1
    p.omit_less_freq()
    assert "a" not in p.freq           # roman-purged
    assert p.freq["あ"] == 5
    assert "ぐ" not in p.freq      # below threshold
    # JSON round-trip
    assert LangProfile.from_json(p.to_json()).to_json() == p.to_json()


def test_profile_merge():  # LangProfile.java:100-118 semantics
    a = LangProfile("x")
    b = LangProfile("x")
    for g in ["a", "b", "ab"]:
        a.add_ngram(g)
    for g in ["b", "c"]:
        b.add_ngram(g)
    a.merge(b)
    assert a.freq == {"a": 1, "b": 2, "ab": 1, "c": 1}
    assert a.n_words == [4, 1, 0]
    with pytest.raises(ValueError):
        a.merge(LangProfile("y"))


# --- DetectorTest ports ----------------------------------------------------

def test_detector1():  # DetectorTest.java:53-59
    d = Detector(tiny_model())
    d.append("a")
    assert d.detect() == "en"


def test_detector2():  # DetectorTest.java:61-67
    d = Detector(tiny_model())
    d.append("b d")
    assert d.detect() == "fr"


def test_detector3():  # DetectorTest.java:69-75
    d = Detector(tiny_model())
    d.append("d e")
    assert d.detect() == "en"


def test_detector4():  # DetectorTest.java:77-83
    d = Detector(tiny_model())
    d.append("ああああa")
    assert d.detect() == "ja"


def test_lang_list():  # DetectorTest.java:85-93
    m = tiny_model()
    assert m.langs == ["en", "fr", "ja"]


def test_factory_from_json_string():  # DetectorTest.java:103-115
    m = DetectorModel.load_json_strings([JSON_LANG1, JSON_LANG2])
    assert m.langs == ["lang1", "lang2"]
    with pytest.raises(ValueError):
        DetectorModel.load_json_strings([JSON_LANG1])


def test_prior_map_validation():  # Detector.java:148-171
    d = Detector(tiny_model())
    with pytest.raises(ValueError):
        d.set_prior_map({"en": -1.0})
    with pytest.raises(ValueError):
        d.set_prior_map({"nolang": 1.0})
    d.set_prior_map({"en": 1.0, "fr": 3.0})
    assert np.allclose(d.prior, [0.25, 0.75, 0.0])


def test_subset_projection():  # Model.java:110-142 semantics
    m = tiny_model()
    s = m.subset(["en", "ja"])
    assert s.langs == ["en", "ja"]
    with pytest.raises(ValueError):
        m.subset(["en"])
    d = Detector(s)
    d.append("ああああa")
    assert d.detect() == "ja"


# --- vectorized batch path agrees with the faithful path -------------------

def test_batch_detect_matches_goldens():
    m = tiny_model()
    texts = ["a", "b d", "d e", "ああああa", "", "12345"]
    langs, confs, post = detect_batch(m, texts, seeds=range(len(texts)))
    assert langs[0] == "en"
    assert langs[1] == "fr"
    assert langs[2] == "en"
    assert langs[3] == "ja"
    assert langs[4] == "unknown"
    assert langs[5] == "unknown"
    assert confs[0] > 0.5
    assert np.allclose(post[:4].sum(axis=1), 1.0, atol=1e-9)


def test_seeded_detector_is_deterministic():
    m = tiny_model()
    for seed in (0, 1, 42):
        d1 = Detector(m, seed=seed)
        d1.append("b d")
        d2 = Detector(m, seed=seed)
        d2.append("b d")
        assert d1.get_probabilities() == d2.get_probabilities()


# --- bundled reference profiles --------------------------------------------

REF_PROFILES = os.environ.get("LANGDETECT_PROFILE_DIR", "/root/reference/profiles")


@pytest.mark.skipif(not os.path.isdir(REF_PROFILES), reason="no bundled profiles")
def test_reference_profile_roundtrip_and_model():
    p = LangProfile.load(os.path.join(REF_PROFILES, "en"))
    assert p.name == "en"
    assert p.n_words[0] > 1_000_000
    # JSON round-trip preserves content exactly
    q = LangProfile.from_json(p.to_json())
    assert q.freq == p.freq and q.n_words == p.n_words

    m = DetectorModel.load_directory(REF_PROFILES)
    assert len(m.langs) >= 50
    langs, confs, _ = detect_batch(
        m,
        [
            "This is a pen and this is a beautiful language detection library.",
            "Ceci est un stylo et la vie est belle, n'est-ce pas mon ami ?",
            "Das ist ein Kugelschreiber und die Sprache wird erkannt.",
            "これは日本語のテキストです。言語判定のテストを行います。",
            "Это русский текст для определения языка.",
            "هذا نص باللغة العربية لاختبار كشف اللغة.",
        ],
        seeds=[1, 2, 3, 4, 5, 6],
    )
    assert langs == ["en", "fr", "de", "ja", "ru", "ar"], langs
    assert all(c > 0.9 for c in confs)


def test_detector_edge_inputs():
    """Edge inputs: empty, whitespace, URL-only, digits, emoji, long text,
    lone-surrogate-producing input — no crashes, sane labels."""
    import numpy as np

    m = tiny_model()
    texts = [
        "",
        "    ",
        "https://example.com/path?q=1",
        "1234567890 42 42",
        "😀😀😀😀",
        "the cat and the dog " * 2000,   # > max_text_length after prep
        "\U0001f600a" * 3,
        None,
    ]
    langs, confs, post = detect_batch(m, texts, seeds=range(len(texts)))
    assert langs[0] == "unknown" and langs[1] == "unknown"
    assert langs[2] == "unknown"  # URL scrubbed away → no features
    assert langs[5] == "en"
    assert langs[7] == "unknown"
    assert len(langs) == len(texts)
    assert np.isfinite(confs).all()


def test_counts_lazy_reconstruction_exact():
    """counts are no longer shipped in the broadcast: rint(probs * denom)
    must recover the original integer counts EXACTLY (counts < 2^53), and
    the pickle payload must not contain the counts matrix."""
    import pickle

    import numpy as np

    from language_detection_spark.models.factory import load_default_model
    from language_detection_spark.models.profile import LangProfile

    m = load_default_model()
    # reference reconstruction straight from the profiles
    import os

    from language_detection_spark.config import DEFAULT_PROFILE_DIR as d
    files = sorted(f for f in os.listdir(d) if not f.startswith("."))
    want = {}
    for f in files:
        p = LangProfile.load(os.path.join(d, f))
        li = m.langs.index(p.name)
        for gram, count in p.freq.items():
            want[(gram, li)] = count
    from language_detection_spark.functions.ngram import pack_gram

    got = m.counts
    checked = 0
    for (gram, li), count in list(want.items())[::37]:  # stride sample
        row = int(m.lookup_rows(np.array([pack_gram(gram)], dtype=np.int64))[0])
        if row < 0:
            continue
        assert got[row, li] == count, (gram, li)
        checked += 1
    assert checked > 1000
    # the broadcast payload excludes the counts matrix (halved size)
    m2 = pickle.loads(pickle.dumps(m))
    assert m2._counts is None or m2.n_words is None
    assert len(pickle.dumps(m)) < 45e6
    assert (m2.counts == got).all()


def _perplexity_full_matrix(model, keys_list, lang_indices, alpha=0.1):
    """The LM as it read the whole materialized ``counts`` matrix — the
    reference the per-cell gather must match bit for bit."""
    import numpy as np

    from language_detection_spark.operators.perplexity import (
        _PREFIX_MASK,
        _THREE_GRAM_MIN,
    )

    out = np.full(len(keys_list), np.nan)
    V = float(model.keys.size)
    for i, (k, li) in enumerate(zip(keys_list, lang_indices)):
        k3 = k[k >= _THREE_GRAM_MIN]
        if li < 0 or k3.size == 0:
            continue
        r3 = model.lookup_rows(k3)
        r2 = model.lookup_rows(k3 & _PREFIX_MASK)
        c3 = np.where(r3 >= 0, model.counts[np.maximum(r3, 0), li], 0)
        c2 = np.where(r2 >= 0, model.counts[np.maximum(r2, 0), li], 0)
        logp = np.log(c3 + alpha) - np.log(c2 + alpha * V)
        out[i] = float(np.exp(-logp.mean()))
    return out


def test_perplexity_gather_bitwise_equals_full_matrix():
    """perplexity through DetectorModel.counts_at is bitwise equal to the
    old full-matrix formula on the bundled model, and neither the batched
    LM nor its per-document arbiter (nor annotate_batch) builds the
    counts matrix."""
    import pickle

    import numpy as np

    from language_detection_spark.config import MAX_TEXT_LENGTH
    from language_detection_spark.models.factory import load_default_model
    from language_detection_spark.operators.detector import (
        _batch_keys,
        annotate_batch,
    )
    from language_detection_spark.operators.perplexity import (
        perplexity_many_from_keys,
    )
    from tests.kernel_arbiters import perplexity_from_keys

    texts = [
        "the quick brown fox jumps over the lazy dog near the river bank",
        "le renard brun saute par dessus le chien paresseux du village",
        "der schnelle braune fuchs springt über den faulen hund am fluss",
        "el rápido zorro marrón salta sobre el perro perezoso del pueblo",
        "快速的棕色狐狸跳过了懒狗，然后回到了它在森林里的家。",
        "быстрая коричневая лиса прыгает через ленивую собаку у реки",
        "a",
        "",
    ]
    # a freshly unpickled model, as an executor deserializes the broadcast
    model = pickle.loads(pickle.dumps(load_default_model()))
    assert model._counts is None
    keys_list = _batch_keys(texts, MAX_TEXT_LENGTH)
    # every language slot in turn, plus the "rejected" marker
    lang_idx = np.array([(7 * i) % len(model.langs) for i in range(len(texts))])
    lang_idx[-2] = -1
    got = perplexity_many_from_keys(model, keys_list, lang_idx)
    scalar = [perplexity_from_keys(model, k, int(li)) if li >= 0 else None
              for k, li in zip(keys_list, lang_idx)]
    annotate_batch(model, texts, list(range(len(texts))))
    assert model._counts is None                    # never materialized
    want = _perplexity_full_matrix(model, keys_list, lang_idx)
    assert model._counts is not None                # the reference built it
    assert np.isfinite(want).sum() >= 5
    assert got.tobytes() == want.tobytes()
    assert np.array_equal(
        np.array([np.nan if p is None else p for p in scalar]), want,
        equal_nan=True)
    # the gather itself, over random cells, against the matrix
    rng = np.random.default_rng(0)
    rows = rng.integers(0, model.keys.size, 5000)
    langs = rng.integers(0, len(model.langs), 5000)
    fresh = pickle.loads(pickle.dumps(model))
    assert (fresh.counts_at(rows, langs) == model.counts[rows, langs]).all()
    assert fresh._counts is None


def test_draw_prefetch_bitwise_invariant(tiny_model):
    """Posterior outputs are bitwise-identical for any prefetch depth: one
    integers() call of (k, T, g, 5) fills chunk-major in C order, so its
    slices equal k separate (T, g, 5) calls on the same stream (prefix
    property).  Long repetitive docs force multi-chunk survival so the
    prefetch path actually engages."""
    import numpy as np

    from language_detection_spark.operators import detector as det

    texts = [
        ("the quick brown fox " * 40)[: 700],
        ("le renard brun et le chien " * 30)[: 650],
        ("der fuchs und der hund " * 30)[: 600],
        "the the the the the",
        "le le le le le",
    ]
    seeds = [11, 22, 33, 44, 55]
    old = det._PREFETCH_CHUNKS
    try:
        det._PREFETCH_CHUNKS = 1
        _, _, p1 = det.detect_batch(tiny_model, texts, seeds)
        det._PREFETCH_CHUNKS = 3
        _, _, p3 = det.detect_batch(tiny_model, texts, seeds)
        det._PREFETCH_CHUNKS = 7
        _, _, p7 = det.detect_batch(tiny_model, texts, seeds)
    finally:
        det._PREFETCH_CHUNKS = old
    assert np.array_equal(p1, p3) and np.array_equal(p1, p7)


def test_groupwise_early_exit_bitwise_matches_scalar(tiny_model):
    """The batched detector's per-group convergence early-exit must be
    bitwise-identical to the per-document arbiter (_detect_from_keys):
    same draws, same float32 group products, same float64 running
    product in np.cumprod order, same per-group normalize.  Mix of
    fast-converging, slow (repetitive), multi-chunk and featureless
    docs so every branch (early exit, chunk carry, iteration cap)
    engages."""
    import numpy as np

    from language_detection_spark.config import ALPHA_DEFAULT, N_TRIAL_DEFAULT
    from language_detection_spark.operators import detector as det
    from tests.kernel_arbiters import _detect_from_keys

    texts = [
        "the quick brown fox jumps over the lazy dog " * 8,
        ("le le la la le la " * 60)[:640],          # slow, multi-chunk
        "der fuchs und der hund " * 25,
        "a",                                         # near-featureless
        "",                                          # no features
        ("the le der " * 80)[:700],                  # mixed, ambiguous
    ]
    seeds = [7, 11, 13, 17, 19, 23]
    keys_list = det._batch_keys(texts, 10000)
    rngs = [np.random.Generator(np.random.Philox(key=s)) for s in seeds]
    batched = det._detect_many_from_keys(
        tiny_model, keys_list, rngs, ALPHA_DEFAULT, N_TRIAL_DEFAULT
    )
    for i, (keys, s) in enumerate(zip(keys_list, seeds)):
        rng = np.random.Generator(np.random.Philox(key=s))
        ref = _detect_from_keys(
            tiny_model, keys, rng, ALPHA_DEFAULT, N_TRIAL_DEFAULT, None
        )
        if ref is None:
            assert batched[i] is None
        else:
            assert np.array_equal(ref, batched[i]), i


def test_batch_keys_duplicate_memo_is_exact():
    """_batch_keys memoizes per distinct text within a batch; a batch
    with duplicates must yield the same per-doc key arrays as singleton
    batches (and duplicates must share identical values)."""
    import numpy as np

    from language_detection_spark.operators.detector import _batch_keys

    texts = [
        "the quick brown fox", None, "", "the quick brown fox",
        "hëllo wörld", "the quick brown fox", "hëllo wörld", "   ",
    ]
    batched = _batch_keys(texts, 10000)
    singles = [_batch_keys([t], 10000)[0] for t in texts]
    assert len(batched) == len(texts)
    for b, s in zip(batched, singles):
        assert np.array_equal(b, s)

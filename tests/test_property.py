"""Property-based tests (hypothesis) for the pure-Python hot-path
implementations whose correctness rests on subtle soundness arguments:

- ``scrub_string``'s two prefilter shortcuts (the ``[@\\d]`` PII
  prefilter and the ASCII toxic-substring shortcut) are claimed to be
  strict over-approximations of the full regex passes — so scrubbing
  with the shortcuts must equal the naive always-apply-all-regexes
  reference on EVERY input, including the Unicode case-fold hazards
  (ſ→s, K→k, ı→i) the shortcut's soundness note names.
- ``predict_batch`` / ``perplexity_batch`` are vectorized
  re-implementations of the per-doc scorers (one UTF-32 encode + LUT
  gather / factorized vocab lookup per Arrow batch) and must be
  bit-identical to mapping the per-doc form — the existing corpus
  equality test (tests/test_scrub_models.py) covers realistic text;
  here hypothesis drives adversarial Unicode (astral plane, combining
  marks, boundary-trigram collisions between concatenated docs).

No SparkSession needed: pandas-UDF bodies and model scorers are plain
Python over batches, which is exactly what makes them property-testable.
"""

import math

from hypothesis import example, given, settings
from hypothesis import strategies as st

from dq.models import (
    _LANGID_CHUNK,
    _PPL_CHUNK,
    LANGID_MODEL,
    LM_MODEL,
    MAX_LANGID_BYTES,
)
from dq.scrub import (
    EMAIL_RE, EMAIL_TOKEN, IP_TOKEN, IPV4_RE, PHONE_RE, PHONE_TOKEN,
    TOXIC_RE, TOXIC_TOKEN, scrub_string,
)

# Fragments that aim at the interesting branches: PII shapes, lexicon
# words in odd case, the Unicode IGNORECASE folds the ASCII shortcut
# must NOT be applied to, and digit/@-bearing near-misses.
_FRAGMENTS = st.sampled_from([
    "frakking", "GORRAM", "Frakking", "gorramſ", "ſlur", "ﬁne",
    "jane.doe+x@ex.co", "@", "no at sign", "555-012-3456",
    "(555) 012-3456", "+1-555-012-3456", "203.12.44.7", "1.2.3",
    "256.1.1.1", "0.0.0.0", "İstanbul", "ı", "K", "̇",
    "ß", "ẞ", " ", "\t", "\n", "", "a", "0",
])

_TEXTS = st.one_of(
    st.text(max_size=200),
    st.lists(st.one_of(st.text(max_size=20), _FRAGMENTS),
             max_size=12).map(" ".join),
)


def _naive_scrub(text):
    """All four regex passes, unconditionally — the shortcut-free
    reference semantics (same order as scrub_string)."""
    if text is None:
        return None
    out = EMAIL_RE.sub(EMAIL_TOKEN, text)
    out = IPV4_RE.sub(IP_TOKEN, out)
    out = PHONE_RE.sub(PHONE_TOKEN, out)
    return TOXIC_RE.sub(TOXIC_TOKEN, out)


@settings(max_examples=300, deadline=None)
@given(st.one_of(st.none(), _TEXTS))
@example("ſlur next to frakking")      # fold-hazard beside a real hit
@example("K = kelvin, frakKing hot")   # K→k fold + mixed-case lexicon hit
@example("reach me at 203.12.44.7 or jane@ex.co or +1-555-012-3456")
def test_scrub_shortcuts_equal_naive_reference(text):
    assert scrub_string(text) == _naive_scrub(text)


_DOCS = st.lists(st.one_of(st.none(), _TEXTS), max_size=12)


@settings(max_examples=150, deadline=None)
@given(_DOCS)
@example(["hello " * 40, "", None, "\U0001F600" * 5])   # astral plane
@example(["ab", "ba", "abba"])   # boundary trigrams between docs
def test_langid_batch_equals_per_doc(docs):
    assert LANGID_MODEL.predict_batch(docs) == \
        [LANGID_MODEL.predict(d) for d in docs]


@settings(max_examples=150, deadline=None)
@given(_DOCS)
@example(["the of and", "zzqx unseen tokens", None, ""])
def test_perplexity_batch_equals_per_doc(docs):
    got = LM_MODEL.perplexity_batch(docs)
    want = [LM_MODEL.perplexity(d) for d in docs]
    assert len(got) == len(want)
    for g, w in zip(got, want):
        assert (math.isinf(g) and math.isinf(w)) or g == w, (g, w)


def _chunk_spanning_docs():
    """~500 deterministic docs whose bytes span several langid and
    perplexity chunks: mixed languages and lengths, one doc larger than
    a whole perplexity chunk, empties, Nones, letterless docs, and a
    trailing run of empty slices."""
    import random

    from dq.vocab import AR_WORDS, DE_WORDS, EN_CONTENT, EN_STOPWORDS, FR_WORDS

    rng = random.Random(20251003)
    pools = [EN_STOPWORDS + EN_CONTENT, FR_WORDS, DE_WORDS, AR_WORDS,
             ["zzqx", "qwv", "ü", "\U0001F600", "12", "--"]]
    docs = []
    for i in range(480):
        if i % 37 == 5:
            docs.append(rng.choice([None, "", "   ", "42 17 -- ??"]))
            continue
        words = rng.choices(rng.choice(pools), k=rng.randint(1, 900))
        docs.append(" ".join(words))
    big = " ".join(rng.choices(EN_STOPWORDS + EN_CONTENT,
                               k=_PPL_CHUNK // 3))
    docs.insert(250, big)
    docs += ["", None, "", ""]          # trailing-empty suffix
    return docs


def test_batch_scorers_equal_per_doc_across_chunk_boundaries():
    """The batch scorers process documents in byte-budgeted chunks
    through reused scratch buffers; a batch spanning several chunks
    (and one doc bigger than a chunk) still equals the per-doc scalar
    paths, on a first call and again with the scratch already grown."""
    docs = _chunk_spanning_docs()
    nbytes = [len((d or "").encode()) for d in docs]
    assert max(nbytes) > _PPL_CHUNK
    assert sum(nbytes) > 3 * _PPL_CHUNK
    assert sum(min(n, MAX_LANGID_BYTES) for n in nbytes) > 2 * _LANGID_CHUNK
    want_lang = [LANGID_MODEL.predict(d) for d in docs]
    want_ppl = [LM_MODEL.perplexity(d) for d in docs]
    assert len(set(want_lang)) > 2
    for _ in range(2):
        assert LANGID_MODEL.predict_batch(docs) == want_lang
        got = LM_MODEL.perplexity_batch(docs)
        assert len(got) == len(want_ppl)
        for g, w in zip(got, want_ppl):
            assert (math.isinf(g) and math.isinf(w)) or g == w, (g, w)

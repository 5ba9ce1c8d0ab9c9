"""Realistic-text corpus generator (round-10 verdict ask #2).

The driver's synthetic ``documents`` table draws from a **30-word
vocabulary**, which makes chance 5-gram collisions pervasive — the
dedup-family scaling records were measured under an adversarially
collision-heavy regime (BASELINE.md round-6: span removals grew 30.7×
at sf10 from cross-replica chance collisions alone) and the
lang-ID/LM/classifier signals are near-trivial. This module generates
a corpus with web-like statistics instead:

* **Zipfian vocabulary** of ``vocab_size`` (default 50 000) distinct
  pronounceable tokens, rank-frequency ``p_r ∝ 1/(r+q)^s`` with the
  classic web-text exponent s≈1.07 — frequent tokens are short,
  tail tokens long, like a real natural-language corpus;
* **function-word interspersal**: each document draws a language from
  a fixed mixture and intersperses that language's real stopwords
  (:data:`..operators.text.LANG_LEXICONS`) at ~30% token density —
  the statistic language-ID, stopword-ratio quality signals, and
  n-gram LMs actually key on;
* **planted structure with controllable rates**: ``dup_rate`` exact
  duplicates, ``near_rate`` near-duplicates (a few % token
  substitutions), ``contam_rate`` documents containing a span from a
  fixed held-out eval set (:func:`eval_spans`) — each doc's ground
  truth rides along in ``role`` / ``src_id`` columns so recall /
  precision of the dedup family is measurable, not just runtime.

Determinism is the counter-RNG discipline of
``sources/generators.py``: every document's text is a pure function
of ``(seed, key)`` under a Philox keyed stream, evaluated inside an
Arrow ``mapInPandas`` pass over ``spark.range(n_docs)`` — identical
output for ANY partitioning or cluster size, no driver-side
generation, no shuffle. A planted duplicate simply re-generates its
source document's key (role assignment is itself a pure hash of the
id, so sources are rejection-sampled to land on originals and the
pair is exact by construction).

Output schema matches the driver's ``documents`` table
(``doc_id, text, lang, source, n_chars``) plus the ground-truth
``role`` ('orig' | 'dup' | 'near' | 'contam') and ``src_id`` (the
copied original for dup/near, the eval-span index for contam, NULL
for originals).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators.text import LANG_LEXICONS
from ..session import local_frame

_LANGS = tuple(sorted(LANG_LEXICONS))  # de, en, es, fr
_LANG_P = {"en": 0.50, "de": 0.20, "fr": 0.15, "es": 0.15}
_SOURCES = ("web", "wiki", "news", "forum", "code")
_SOURCE_P = (0.55, 0.15, 0.12, 0.12, 0.06)
_STOPWORD_DENSITY = 0.30
_NEAR_SUB_FRAC = 0.03  # token-substitution fraction for near-dups
_EVAL_KEY_BASE = 1 << 62  # reserved key space for eval spans


def build_vocab(vocab_size: int = 50_000) -> list[str]:
    """Deterministic pronounceable vocabulary: token of rank ``r`` is
    the base-95 syllable spelling of ``r`` (consonant+vowel pairs), so
    frequent tokens are 2 chars and the 50k tail is 6 — the
    length-vs-rank shape of real text, with zero collisions by
    construction."""
    syll = [c + v for c in "bcdfghjklmnpqrstvwz" for v in "aeiou"]
    out = []
    for r in range(vocab_size):
        n, parts = r, []
        while True:
            parts.append(syll[n % len(syll)])
            n //= len(syll)
            if n == 0:
                break
        out.append("".join(reversed(parts)))
    return out


def _zipf_cdf(vocab_size: int, s: float = 1.07, q: float = 2.7):
    import numpy as np

    r = np.arange(vocab_size, dtype="float64")
    p = 1.0 / (r + q) ** s
    cdf = np.cumsum(p)
    return cdf / cdf[-1]


def _eval_span_tokens(i: int, seed: int, vocab, cdf) -> list[str]:
    """Eval span ``i``: 24 Zipf tokens from the reserved key stream —
    long enough that a 5-gram/13-gram decontamination screen hits it,
    unique enough that chance collision is negligible."""
    import numpy as np

    g = np.random.Generator(np.random.Philox(key=[seed, _EVAL_KEY_BASE + i]))
    idx = np.searchsorted(cdf, g.random(24))
    return [vocab[j] for j in idx]


def eval_spans(
    spark: SparkSession, n_spans: int = 64, vocab_size: int = 50_000,
    seed: int = 0,
) -> DataFrame:
    """The held-out eval set the ``contam_rate`` docs leak spans of —
    feed it to the decontamination operators as the benchmark side."""
    vocab = build_vocab(vocab_size)
    cdf = _zipf_cdf(vocab_size)
    rows = [
        (i, " ".join(_eval_span_tokens(i, seed, vocab, cdf)))
        for i in range(n_spans)
    ]
    return local_frame(spark, rows, "eval_id long, text string")


def realistic_documents(
    spark: SparkSession,
    n_docs: int,
    vocab_size: int = 50_000,
    zipf_s: float = 1.07,
    mean_tokens: int = 90,
    dup_rate: float = 0.06,
    near_rate: float = 0.04,
    contam_rate: float = 0.01,
    n_eval_spans: int = 64,
    seed: int = 0,
) -> DataFrame:
    """Generate the corpus as one distributed Arrow pass over
    ``spark.range(n_docs)`` (see module docstring for semantics).
    Text is a pure function of the row id — identical output under
    any partitioning; scale by raising ``n_docs``."""
    if dup_rate + near_rate + contam_rate >= 1.0:
        raise ValueError("dup/near/contam rates must sum below 1")
    vocab_list = build_vocab(vocab_size)
    lex = {k: tuple(v) for k, v in LANG_LEXICONS.items()}
    langs, lang_p = zip(*sorted(_LANG_P.items()))

    def gen(batches):
        import numpy as np
        import pandas as pd

        vocab = np.array(vocab_list, dtype=object)
        cdf = _zipf_cdf(vocab_size, s=zipf_s)
        lang_cdf = np.cumsum(np.array(lang_p))
        src_cdf = np.cumsum(np.array(_SOURCE_P))
        rate_d, rate_n, rate_c = dup_rate, near_rate, contam_rate

        def role_of(did: int) -> tuple[str, float]:
            # role is a pure hash of the id so ANY worker can classify
            # any id (duplicate sources must land on originals)
            u = np.random.Generator(
                np.random.Philox(key=[seed + 1, did])
            ).random()
            if did >= 16:  # first docs are always originals
                if u < rate_d:
                    return "dup", u
                if u < rate_d + rate_n:
                    return "near", u
                if u < rate_d + rate_n + rate_c:
                    return "contam", u
            return "orig", u

        def base_tokens(key: int):
            """The ORIGINAL content for a key — pure function of
            (seed, key); duplicates re-generate their source's key."""
            g = np.random.Generator(np.random.Philox(key=[seed, key]))
            n = int(np.clip(g.lognormal(np.log(mean_tokens), 0.6), 8, 400))
            li = int(np.searchsorted(lang_cdf, g.random()))
            lang = langs[li]
            toks = vocab[np.searchsorted(cdf, g.random(n))]
            sw = np.array(lex[lang], dtype=object)
            stop_mask = g.random(n) < _STOPWORD_DENSITY
            # stopwords themselves are Zipf-ish: low ranks more common
            sw_idx = np.minimum(
                np.floor(g.random(stop_mask.sum()) ** 2 * len(sw)), len(sw) - 1
            ).astype("int64")
            toks = toks.copy()
            toks[stop_mask] = sw[sw_idx]
            si = int(np.searchsorted(src_cdf, g.random()))
            return list(toks), lang, _SOURCES[si]

        for pdf in batches:
            out = {
                "doc_id": [], "text": [], "lang": [], "source": [],
                "n_chars": [], "role": [], "src_id": [],
            }
            for did in pdf["id"]:
                did = int(did)
                role, u = role_of(did)
                g2 = np.random.Generator(
                    np.random.Philox(key=[seed + 2, did])
                )
                if role in ("dup", "near"):
                    # rejection-sample an ORIGINAL source id < did
                    src = did
                    while True:
                        src = int(g2.integers(0, did))
                        if role_of(src)[0] == "orig":
                            break
                    toks, lang, source = base_tokens(src)
                    if role == "near":
                        n_sub = max(1, int(len(toks) * _NEAR_SUB_FRAC))
                        pos = g2.choice(len(toks), size=n_sub, replace=False)
                        repl = vocab[
                            np.searchsorted(cdf, g2.random(n_sub))
                        ]
                        for p, w in zip(pos, repl):
                            toks[int(p)] = w
                    src_id = src
                elif role == "contam":
                    toks, lang, source = base_tokens(did)
                    ei = int(g2.integers(0, n_eval_spans))
                    span = _eval_span_tokens(ei, seed, vocab_list, cdf)
                    at = int(g2.integers(0, len(toks) + 1))
                    toks = toks[:at] + span + toks[at:]
                    src_id = ei
                else:
                    toks, lang, source = base_tokens(did)
                    src_id = None
                text = " ".join(toks)
                out["doc_id"].append(did)
                out["text"].append(text)
                out["lang"].append(lang)
                out["source"].append(source)
                out["n_chars"].append(len(text))
                out["role"].append(role)
                out["src_id"].append(src_id)
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(out["doc_id"], dtype="int64"),
                    "text": pd.Series(out["text"], dtype=object),
                    "lang": pd.Series(out["lang"], dtype=object),
                    "source": pd.Series(out["source"], dtype=object),
                    "n_chars": pd.Series(out["n_chars"], dtype="int64"),
                    "role": pd.Series(out["role"], dtype=object),
                    "src_id": pd.Series(out["src_id"], dtype="Int64"),
                }
            )

    base = spark.range(n_docs)  # already splits to defaultParallelism
    return base.mapInPandas(
        gen,
        schema=(
            "doc_id long, text string, lang string, source string, "
            "n_chars long, role string, src_id long"
        ),
    )

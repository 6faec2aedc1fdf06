"""Seeded input generators. The library under test only ever sees the
parquet files these write; the ground truth they return stays with the
benchmark's checks.

Documents are built from pseudo-words of random letters, so their
character-3-gram vocabulary is large and unrelated documents share few
shingles (true Jaccard about 0.1). A few English stopwords per document make
clean documents pass `prepare_training_corpus`'s quality and language
filters. Planted near-duplicates differ from their original by single-letter
substitutions and are kept only if their true 3-gram Jaccard is >= 0.95, far
above the 0.8 matching threshold, while unrelated pairs sit far below it.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

# every word any language profile or the English stopword list of
# sparkglm_spark.operators.text may count; pseudo-words must not be one. A
# frozen copy, so the inputs stay the same when the library's lists change.
_PROFILE_WORDS = {
    "der", "die", "das", "und", "ist", "nicht", "mit", "ein", "eine", "zu",
    "the", "a", "an", "and", "is", "not", "with", "of", "to", "in", "it",
    "el", "la", "los", "las", "es", "no", "con", "una", "que", "de", "le",
    "les", "et", "est", "pas", "avec", "une", "des", "shi", "bu", "zai",
    "ren", "you", "wo", "ta", "zhe", "or", "are", "was", "on", "that",
    "this", "for", "as", "be",
}
STOPWORDS = ["the", "and", "of", "to", "in", "is", "with", "that", "for", "on"]
LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))

CORPUS_SEED = 20_260_417  # the known corpus is fixed; its index is cached
CORPUS_DOCS = 33_000      # just over the 32,768-doc small-index gate
BATCH_ID0 = 10_000_000    # batch ids sort after every corpus id
NEAR_MIN_JACCARD = 0.95


def shingle_set(text: str, n: int = 3) -> frozenset[str]:
    """Distinct lowercased character n-grams, the documented shingle set."""
    t = text.lower()
    return frozenset(t[i : i + n] for i in range(len(t) - n + 1))


def jaccard(a: frozenset, b: frozenset) -> float:
    return len(a & b) / len(a | b)


def _vocabulary(rng: np.random.Generator, size: int) -> np.ndarray:
    lengths = rng.integers(4, 9, size=size)
    letters = LETTERS[rng.integers(0, 26, size=int(lengths.sum()))]
    ends = np.cumsum(lengths)
    words = ["".join(letters[e - n : e]) for e, n in zip(ends, lengths)]
    return np.array(sorted({w for w in words if w not in _PROFILE_WORDS}))


def _docs(rng: np.random.Generator, vocab: np.ndarray, n: int) -> list[str]:
    """`n` clean documents of 48-60 tokens, about one stopword in eight."""
    out = []
    for n_tok in rng.integers(48, 61, size=n):
        words = vocab[rng.integers(0, len(vocab), size=n_tok)].tolist()
        for pos in rng.choice(n_tok, size=n_tok // 8, replace=False):
            words[pos] = STOPWORDS[int(rng.integers(0, len(STOPWORDS)))]
        out.append(" ".join(words))
    return out


def _near_duplicate(rng: np.random.Generator, text: str) -> str | None:
    """`text` with one or two letters substituted, or None if the result's
    true Jaccard to `text` falls below NEAR_MIN_JACCARD."""
    chars = list(text)
    letter_pos = [i for i, c in enumerate(chars) if c != " "]
    for pos in rng.choice(letter_pos, size=int(rng.integers(1, 3)), replace=False):
        chars[pos] = str(LETTERS[(ord(chars[pos]) - 97 + int(rng.integers(1, 26))) % 26])
    out = "".join(chars)
    j = jaccard(shingle_set(text), shingle_set(out))
    return out if NEAR_MIN_JACCARD <= j < 1.0 else None


def _junk(rng: np.random.Generator) -> str:
    """Digits and punctuation only: quality score < 0.2 by construction."""
    toks = ["".join(rng.choice(list("0123456789#%*-+=/"), size=int(rng.integers(2, 7))))
            for _ in range(int(rng.integers(4, 12)))]
    return " ".join(toks)


def corpus() -> pd.DataFrame:
    """The known corpus (doc_id, text): fixed, so its index is built once."""
    rng = np.random.default_rng(CORPUS_SEED)
    vocab = _vocabulary(rng, 60_000)
    return pd.DataFrame(
        {"doc_id": np.arange(CORPUS_DOCS, dtype=np.int64), "text": _docs(rng, vocab, CORPUS_DOCS)}
    )


def ingest_batch(seed: int, known: pd.DataFrame, n: int) -> tuple[pd.DataFrame, dict]:
    """One daily batch of `n` new docs against the `known` corpus.

    Mix: 78% clean new docs, 5% junk, 5% exact copies of earlier batch docs,
    5% near-duplicates of earlier batch docs, 6% near-duplicates of known
    docs and 1% exact copies of known docs. Every planted copy gets a larger
    id than its original, because the documented rules drop the larger id.
    Returns the batch and its ground truth: id lists per kind plus
    `original` (planted id -> original id)."""
    rng = np.random.default_rng(seed)
    vocab = _vocabulary(rng, 60_000)
    counts = {
        "junk": n * 5 // 100,
        "exact_in": n * 5 // 100,
        "near_in": n * 5 // 100,
        "near_known": n * 6 // 100,
        "copy_known": n // 100,
    }
    n_clean = n - sum(counts.values())
    texts: list[str] = _docs(rng, vocab, n_clean)
    kinds = ["clean"] * n_clean
    original: dict[int, int] = {}
    known_texts = known["text"].to_numpy()
    known_pick = iter(rng.permutation(len(known_texts)))

    def add(kind: str, text: str, orig: int | None) -> None:
        texts.append(text)
        kinds.append(kind)
        if orig is not None:
            original[BATCH_ID0 + len(texts) - 1] = orig

    for _ in range(counts["junk"]):
        add("junk", _junk(rng), None)
    originals = rng.choice(n_clean, size=counts["exact_in"] + counts["near_in"], replace=False)
    for i in originals[: counts["exact_in"]]:
        add("exact_in", texts[i], BATCH_ID0 + int(i))
    for i in originals[counts["exact_in"] :]:
        dup = None
        while dup is None:
            dup = _near_duplicate(rng, texts[i])
        add("near_in", dup, BATCH_ID0 + int(i))
    for _ in range(counts["near_known"]):
        dup = None
        while dup is None:
            k = int(next(known_pick))
            dup = _near_duplicate(rng, known_texts[k])
        add("near_known", dup, k)
    for _ in range(counts["copy_known"]):
        k = int(next(known_pick))
        add("copy_known", known_texts[k], k)
    batch = pd.DataFrame(
        {"doc_id": BATCH_ID0 + np.arange(len(texts), dtype=np.int64), "text": texts}
    )
    truth = {
        kind: [int(i) for i, k in zip(batch["doc_id"], kinds) if k == kind]
        for kind in ["clean", *counts]
    }
    truth["original"] = original
    return batch, truth


def glm_frame(
    rng: np.random.Generator, rows: int, numerics: int, levels: tuple[int, int], segments: int = 0
) -> pd.DataFrame:
    """Model rows: `numerics` normal predictors x0.., two categoricals c1/c2
    with the given level counts, a gaussian response `yl` and a binary
    response `yb` drawn from a logistic model with moderate effects, so
    every fit is well conditioned and free of separation. With `segments`,
    a `seg` column assigns rows uniformly to that many segments."""
    X = rng.normal(size=(rows, numerics))
    c1 = rng.integers(0, levels[0], rows)
    c2 = rng.integers(0, levels[1], rows)
    eta = (
        X @ rng.normal(scale=0.4, size=numerics)
        + rng.normal(scale=0.4, size=levels[0])[c1]
        + rng.normal(scale=0.4, size=levels[1])[c2]
        - 0.3
    )
    cols: dict[str, np.ndarray] = {f"x{i}": X[:, i] for i in range(numerics)}
    cols["c1"] = np.array([f"p{v:02d}" for v in range(levels[0])])[c1]
    cols["c2"] = np.array([f"q{v:02d}" for v in range(levels[1])])[c2]
    cols["yl"] = eta + rng.normal(size=rows)
    cols["yb"] = (rng.random(rows) < 1.0 / (1.0 + np.exp(-eta))).astype(np.float64)
    if segments:
        cols["seg"] = rng.integers(0, segments, rows).astype(np.int32)
    return pd.DataFrame(cols)

"""Independent reference computations for the output checks, each derived
from an operator's documented contract rather than from its code."""

from __future__ import annotations

import numpy as np
import pandas as pd

from gen import shingle_set, jaccard


# ---------------------------------------------------------------- models


def design(pdf: pd.DataFrame, xnames: list[str], numerics: list[str], levels: dict[str, int]) -> np.ndarray:
    """The model matrix for the model's own term names: `intercept`, a
    numeric column, or `<cat>_<level>` dummies. Raises if the terms are not
    exactly an intercept, the formula's numerics, and all but one of the
    `levels[cat]` levels of each of its categoricals, so a fit that silently
    drops or adds a term fails."""
    cols, dummies = [], {c: 0 for c in levels}
    for name in xnames:
        if name == "intercept":
            cols.append(np.ones(len(pdf)))
        elif name in numerics:
            cols.append(pdf[name].to_numpy(dtype=np.float64))
        else:
            cat, level = name.split("_", 1)
            if cat not in dummies:
                raise ValueError(f"unexpected term {name!r}")
            dummies[cat] += 1
            cols.append((pdf[cat].to_numpy() == level).astype(np.float64))
    want = {c: n - 1 for c, n in levels.items()}
    if xnames.count("intercept") != 1 or dummies != want or sorted(set(xnames) & set(numerics)) != sorted(numerics) \
            or len(xnames) != 1 + len(numerics) + sum(want.values()):
        raise ValueError(f"terms {xnames} are not the full design")
    return np.column_stack(cols)


def ols(X: np.ndarray, y: np.ndarray) -> np.ndarray:
    return np.linalg.lstsq(X, y, rcond=None)[0]


def logit_irls(X: np.ndarray, y: np.ndarray, tol: float = 1e-12) -> tuple[np.ndarray, float]:
    """Binomial/logit maximum likelihood by Newton-IRLS from beta = 0,
    iterated to a deviance change below `tol`. Returns (beta, deviance)."""
    beta = np.zeros(X.shape[1])
    dev_old = np.inf
    for _ in range(100):
        mu = 1.0 / (1.0 + np.exp(-(X @ beta)))
        w = mu * (1.0 - mu)
        z = X @ beta + (y - mu) / w
        beta = np.linalg.solve(X.T @ (X * w[:, None]), X.T @ (w * z))
        mu = 1.0 / (1.0 + np.exp(-(X @ beta)))
        dev = -2.0 * float(np.sum(y * np.log(mu) + (1.0 - y) * np.log1p(-mu)))
        if abs(dev_old - dev) < tol:
            break
        dev_old = dev
    return beta, dev


def close(got, want, tol: float) -> bool:
    got, want = np.asarray(got, dtype=np.float64), np.asarray(want, dtype=np.float64)
    return got.shape == want.shape and bool(
        np.all(np.abs(got - want) <= tol * np.maximum(1.0, np.abs(want)))
    )


# ---------------------------------------------------------------- text


def passes_quality_and_language(
    text: str, stopwords: list[str], profiles: dict[str, list[str]], min_quality: float = 0.5
) -> bool:
    """`prepare_training_corpus`'s documented filter: the composite quality
    score (0.4 length + 0.3 alphabetic share + 0.3 stopword share) at or
    above `min_quality`, and English as the stopword-profile argmax with
    ties to the first language in sorted order."""
    toks = text.strip().split()
    lowered = [t.lower() for t in toks]
    n_tok = len(toks)
    alpha = sum(c.isascii() and c.isalpha() for c in text) / len(text) if text else 0.0
    stop = sum(t in stopwords for t in lowered) / n_tok if n_tok else 0.0
    score = 0.4 * min(n_tok / 50.0, 1.0) + 0.3 * alpha + 0.3 * min(stop * 5.0, 1.0)
    hits = {lang: sum(t in words for t in lowered) for lang, words in profiles.items()}
    best = max(sorted(hits), key=lambda lang: hits[lang])  # first max in sorted order
    return score >= min_quality and best == "en"


def unexplained_near_dup_drops(
    kept_before: dict[int, str], kept_after: set[int], threshold: float
) -> list[int]:
    """Docs the near-dup stage dropped without the documented reason: a
    doc is dropped only as the larger id of a pair with exact 3-gram
    Jaccard >= threshold. Returns the ids that lack such a partner."""
    sets = {i: shingle_set(t) for i, t in kept_before.items()}
    ids = sorted(sets)
    bad = []
    for d in sorted(set(kept_before) - kept_after):
        if not any(jaccard(sets[d], sets[e]) >= threshold for e in ids if e < d):
            bad.append(d)
    return bad


# ---------------------------------------------------------------- MinHash

MERSENNE_P = (1 << 61) - 1


def permutations(num_perm: int = 128, seed: int = 42) -> tuple[np.ndarray, np.ndarray]:
    """The documented permutation family h_i(s) = (a_i * h32(s) + b_i) mod p
    with a_i drawn from [1, 2^29) and b_i from [0, p) by numpy's default
    generator at `seed`."""
    rng = np.random.default_rng(seed)
    a = rng.integers(1, 1 << 29, size=num_perm, dtype=np.int64)
    b = rng.integers(0, MERSENNE_P, size=num_perm, dtype=np.int64)
    return a, b


def shingle_hashes(spark, texts) -> list[np.ndarray]:
    """Per text, the 32-bit hashes of its distinct 3-gram shingles. The
    shingle sets are built in Python; the hash is Spark SQL's
    pmod(xxhash64(s), 2^32), the one piece only Spark implements."""
    sets = [sorted(shingle_set(t)) for t in texts]
    vocab = sorted({s for ss in sets for s in ss})
    hashed = (
        spark.createDataFrame(pd.DataFrame({"s": vocab}))
        .selectExpr("s", "pmod(xxhash64(s), 4294967296) AS h")
        .toPandas()
    )
    h_of = dict(zip(hashed["s"], hashed["h"].astype(np.int64)))
    return [np.fromiter((h_of[s] for s in ss), dtype=np.int64, count=len(ss)) for ss in sets]


def signatures(hashes: list[np.ndarray], num_perm: int = 128) -> np.ndarray:
    a, b = permutations(num_perm)
    # h < 2^32 and a < 2^29, so a*h + b < 2^62: no int64 overflow
    return np.vstack([((h[:, None] * a[None, :] + b[None, :]) % MERSENNE_P).min(axis=0) for h in hashes])


def band_keys(sig: np.ndarray, bands: int) -> list[np.ndarray]:
    r = sig.shape[1] // bands
    out = []
    for i in range(bands):
        sl = np.ascontiguousarray(sig[:, i * r : (i + 1) * r])
        out.append(sl.view(np.dtype((np.void, sl.dtype.itemsize * r))).ravel())
    return out


def match_drops(new_sig: np.ndarray, known_sig: np.ndarray, threshold: float, bands: int = 32) -> np.ndarray:
    """`minhash_match_pairs`' documented rule: a new doc matches a known doc
    iff they share at least one whole band and their signatures agree on at
    least `threshold` of the permutations. Returns a boolean per new doc:
    True if it matches any known doc, so `minhash_dedup_against` drops it."""
    known_keys = band_keys(known_sig, bands)
    orders = [np.argsort(k, kind="stable") for k in known_keys]
    sorted_keys = [k[o] for k, o in zip(known_keys, orders)]
    new_keys = band_keys(new_sig, bands)
    cands: list[list[np.ndarray]] = [[] for _ in range(len(new_sig))]
    for keys, skeys, order in zip(new_keys, sorted_keys, orders):
        lo = np.searchsorted(skeys, keys, side="left")
        hi = np.searchsorted(skeys, keys, side="right")
        for i in np.flatnonzero(hi > lo):
            cands[i].append(order[lo[i] : hi[i]])
    drops = np.zeros(len(new_sig), dtype=bool)
    for i, parts in enumerate(cands):
        if parts:
            js = np.unique(np.concatenate(parts))
            est = (known_sig[js] == new_sig[i]).sum(axis=1) / new_sig.shape[1]
            drops[i] = bool((est >= threshold).any())
    return drops

"""The benchmark's workloads. Each one generates its inputs from the seed,
registers them with Spark (part of set-up), exposes one cycle of ops that a
closed-loop, single-threaded client runs back to back, and checks every
op's output after the timed region against references in reference.py."""

from __future__ import annotations

import shutil
from dataclasses import dataclass, field
from pathlib import Path
from typing import Callable

import numpy as np
import pandas as pd

import gen
import reference as ref

THRESHOLD = 0.8  # the near-dup threshold of every dedup op here (library default)


@dataclass
class Op:
    name: str
    kind: str  # fit | predict | prepare | match | append
    run: Callable[[int], object]  # cycle index -> result kept for the checks


@dataclass
class Cycle:
    latency: dict[str, float] = field(default_factory=dict)
    result: dict[str, object] = field(default_factory=dict)
    error: dict[str, str] = field(default_factory=dict)


class GlmFits:
    """Global fits at two widths plus segmented fits and scoring.

    `seg` (400k rows, k=8 design) carries a global lm and binomial glm, the
    64-segment lm_grouped and glm_grouped, and a row-wise predict into a
    noop sink: per-row scan, shuffle and Python-worker costs. `wide` (30k
    rows) carries an lm at k=33 and a binomial glm at k=16, whose cost
    comes from the width of the Gram aggregate and the job count."""

    name = "glm_fits"
    SEG_ROWS, WIDE_ROWS, SEGMENTS, PREDICT_CHECK_ROWS = 400_000, 30_000, 64, 2_000
    NARROW = "x0 + x1 + x2 + x3 + c1 + c2"  # 1 + 4 + 2 + 1 = 8 columns
    WIDE_LM = " + ".join([f"x{i}" for i in range(16)] + ["c1", "c2"])  # 1 + 16 + 9 + 7 = 33
    WIDE_GLM = " + ".join([f"x{i}" for i in range(8)] + ["c2"])  # 1 + 8 + 7 = 16

    def __init__(self, run_dir: Path, work: Path) -> None:
        self.dir = run_dir
        self._seg_designs: dict[tuple, np.ndarray] = {}

    def generate(self, seed: int) -> None:
        rng = np.random.default_rng([seed, 1])
        self.seg = gen.glm_frame(rng, self.SEG_ROWS, 4, (3, 2), segments=self.SEGMENTS)
        self.seg.insert(0, "rid", np.arange(self.SEG_ROWS, dtype=np.int64))
        self.wide = gen.glm_frame(rng, self.WIDE_ROWS, 16, (10, 8))
        self.seg.to_parquet(self.dir / "seg.parquet", index=False)
        self.wide.to_parquet(self.dir / "wide.parquet", index=False)

    def register(self, spark) -> None:
        for table in ("seg", "wide"):
            spark.read.parquet(str(self.dir / f"{table}.parquet")).createOrReplaceTempView(table)
            spark.table(table).count()
        self.spark = spark

    def rows(self, cycle: Cycle) -> int:
        return 5 * self.SEG_ROWS + 2 * self.WIDE_ROWS

    def ops(self) -> list[Op]:
        import sparkglm_spark as sg

        seg = lambda: self.spark.table("seg")  # noqa: E731
        wide = lambda: self.spark.table("wide")  # noqa: E731
        fitted: dict[int, object] = {}

        def glm_narrow(c):
            fitted[c] = sg.glm(seg(), f"yb ~ {self.NARROW}", family="binomial")
            return fitted[c]

        def predict(c):
            fitted[c].predict(seg()).write.format("noop").mode("overwrite").save()
            return fitted[c]

        return [
            Op("lm_narrow", "fit", lambda c: sg.lm(seg(), f"yl ~ {self.NARROW}")),
            Op("glm_narrow", "fit", glm_narrow),
            Op("lm_wide", "fit", lambda c: sg.lm(wide(), f"yl ~ {self.WIDE_LM}")),
            Op("glm_wide", "fit", lambda c: sg.glm(wide(), f"yb ~ {self.WIDE_GLM}", family="binomial")),
            Op("lm_grouped", "fit", lambda c: sg.lm_grouped(seg(), f"yl ~ {self.NARROW}", ["seg"]).toPandas()),
            Op("glm_grouped", "fit", lambda c: sg.glm_grouped(
                seg(), f"yb ~ {self.NARROW}", ["seg"], family="binomial").toPandas()),
            Op("predict", "predict", predict),
        ]

    # ------------------------------------------------------------ checks

    @staticmethod
    def _design(pdf: pd.DataFrame, formula: str, xnames: list[str], source: pd.DataFrame) -> np.ndarray:
        """`pdf`'s model matrix; categorical levels are those of the whole
        `source` frame, as the library encodes with global levels."""
        terms = [t.strip() for t in formula.split("+")]
        levels = {c: source[c].nunique() for c in terms if c.startswith("c")}
        return ref.design(pdf, xnames, [t for t in terms if t.startswith("x")], levels)

    def _check_global(self, model, pdf: pd.DataFrame, formula: str, y: str) -> list[str]:
        X = self._design(pdf, formula, model.xnames, pdf)
        yv = pdf[y].to_numpy()
        if y == "yl":
            want = ref.ols(X, yv)
            return [] if ref.close(model.coefs, want, 1e-6) else ["lm coefficients differ from least squares"]
        want, dev = ref.logit_irls(X, yv)
        errs = []
        if not ref.close(model.coefs, want, 1e-4):
            errs.append("glm coefficients differ from numpy IRLS")
        if not ref.close(model.deviance, dev, 1e-6):
            errs.append(f"glm deviance {model.deviance} != {dev}")
        return errs

    def _check_grouped(self, out: pd.DataFrame, y: str) -> list[str]:
        errs = []
        by_seg = dict(tuple(self.seg.groupby("seg")))
        if sorted(out["seg"].unique()) != sorted(by_seg):
            return ["segments missing from the grouped output"]
        for s, rows in out.groupby("seg"):
            pdf = by_seg[s]
            key = (s, tuple(rows["term"]))
            if key not in self._seg_designs:
                self._seg_designs[key] = self._design(pdf, self.NARROW, list(rows["term"]), self.seg)
            X = self._seg_designs[key]
            if (rows["n_rows"] != len(pdf)).any() or rows["estimate"].isna().any():
                errs.append(f"segment {s}: wrong row count or NULL estimate")
            elif y == "yl":
                if not ref.close(rows["estimate"], ref.ols(X, pdf[y].to_numpy()), 1e-6):
                    errs.append(f"segment {s}: lm_grouped estimates differ from least squares")
            else:
                want, dev = ref.logit_irls(X, pdf[y].to_numpy())
                if not (ref.close(rows["estimate"], want, 1e-4) and ref.close(rows["deviance"], np.full(len(rows), dev), 1e-6)):
                    errs.append(f"segment {s}: glm_grouped estimates or deviance differ from numpy IRLS")
        return errs

    def _check_predict(self, model) -> list[str]:
        from pyspark.sql import functions as F

        got = (
            model.predict(self.spark.table("seg").where(F.col("rid") < self.PREDICT_CHECK_ROWS))
            .select("rid", "prediction").toPandas().sort_values("rid")
        )
        pdf = self.seg.iloc[: self.PREDICT_CHECK_ROWS]
        want = 1.0 / (1.0 + np.exp(-(self._design(pdf, self.NARROW, model.xnames, self.seg) @ model.coefs)))
        ok = list(got["rid"]) == list(pdf["rid"]) and ref.close(got["prediction"], want, 1e-9)
        return [] if ok else ["predictions differ from the inverse-link of X beta"]

    def check(self, cycles: list[Cycle]) -> tuple[dict[tuple[int, str], list[str]], dict]:
        failures = {}
        for c, cyc in enumerate(cycles):
            for name, res in cyc.result.items():
                if name in ("lm_narrow", "glm_narrow"):
                    errs = self._check_global(res, self.seg, self.NARROW, "yl" if name.startswith("lm") else "yb")
                elif name == "lm_wide":
                    errs = self._check_global(res, self.wide, self.WIDE_LM, "yl")
                elif name == "glm_wide":
                    errs = self._check_global(res, self.wide, self.WIDE_GLM, "yb")
                elif name in ("lm_grouped", "glm_grouped"):
                    errs = self._check_grouped(res, "yl" if name.startswith("lm") else "yb")
                else:
                    errs = self._check_predict(res)
                failures[(c, name)] = errs
        iters = [cyc.result[n].iter for cyc in cycles for n in ("glm_narrow", "glm_wide") if n in cyc.result]
        # nothing here is deduplicated: the dedup-only values read 0
        return failures, {"glm.iterations": sum(iters) / len(cycles), "dedup.near_dup_recall": 0.0,
                          "pipeline.pass_ratio": 0.0}


class DedupIngest:
    """One daily ingest of 2,000 new docs against a known corpus of 33,000
    docs, indexed above the 32,768-doc small-index gate: corpus prep on the
    batch, MinHash matching against the index, and the index append."""

    name = "dedup_ingest"
    BATCH = 2_000

    def __init__(self, run_dir: Path, work: Path) -> None:
        self.dir = run_dir
        self.known_dir, self.index_dir = known_paths(work)

    def generate(self, seed: int) -> None:
        self.known = pd.read_parquet(self.known_dir / "docs.parquet")
        self.batch, self.truth = gen.ingest_batch(seed, self.known, self.BATCH)
        self.batch.to_parquet(self.dir / "batch.parquet", index=False)

    def register(self, spark) -> None:
        spark.read.parquet(str(self.dir / "batch.parquet")).createOrReplaceTempView("batch")
        spark.read.parquet(str(self.index_dir)).createOrReplaceTempView("known_index")
        spark.table("batch").count()
        spark.table("known_index").count()
        self.spark = spark

    def rows(self, cycle: Cycle) -> int:
        counts = [len(pd.read_parquet(cycle.result[n], columns=["doc_id"]))
                  for n in ("prepare", "match") if n in cycle.result]
        return self.BATCH + sum(counts)

    def ops(self) -> list[Op]:
        from sparkglm_spark.operators.dedup import minhash_dedup_against, minhash_index
        from sparkglm_spark.operators.pipeline import prepare_training_corpus

        spark = self.spark

        def prepare(c):
            out = self.dir / f"prepared-{c}"
            (prepare_training_corpus(spark.table("batch"), "text", "doc_id", neardup_threshold=THRESHOLD)
             .select("doc_id", "text").write.mode("overwrite").parquet(str(out)))
            return out

        def match(c):
            out = self.dir / f"survivors-{c}"
            new = spark.read.parquet(str(self.dir / f"prepared-{c}"))
            (minhash_dedup_against(new, spark.table("known_index"), "doc_id", "text", threshold=THRESHOLD)
             .write.mode("overwrite").parquet(str(out)))
            return out

        def append(c):
            out = self.dir / "index" / f"day={c}"
            survivors = spark.read.parquet(str(self.dir / f"survivors-{c}"))
            minhash_index(survivors, "doc_id", "text").write.mode("append").parquet(str(out))
            return out

        return [Op("prepare", "prepare", prepare), Op("match", "match", match), Op("append", "append", append)]

    # ------------------------------------------------------------ checks

    def _reference(self) -> None:
        from sparkglm_spark.operators.text import EN_STOPWORDS, LANG_PROFILES

        texts = dict(zip(self.batch["doc_id"].tolist(), self.batch["text"].tolist()))
        passing = {i: t for i, t in texts.items()
                   if ref.passes_quality_and_language(t, EN_STOPWORDS, LANG_PROFILES)}
        first_of_text: dict[str, int] = {}
        for i in sorted(passing):
            first_of_text.setdefault(passing[i], i)
        # exact dedup keeps the smallest id of each identical text
        self.after_exact = {i: t for t, i in first_of_text.items()}
        ids = sorted(self.after_exact)
        hashes = ref.shingle_hashes(self.spark, [self.after_exact[i] for i in ids])
        self.sig = dict(zip(ids, ref.signatures(hashes)))
        self.known_sig = np.load(self.known_dir / "signatures.npy")

    def check(self, cycles: list[Cycle]) -> tuple[dict[tuple[int, str], list[str]], dict]:
        self._reference()
        planted = set(self.truth["near_in"]) | set(self.truth["near_known"])
        failures, recalls, passed = {}, [], []
        for c, cyc in enumerate(cycles):
            prepared = survivors = None
            if "prepare" in cyc.result:
                prepared = set(pd.read_parquet(cyc.result["prepare"], columns=["doc_id"])["doc_id"])
                passed.append(len(prepared) / self.BATCH)
                errs = []
                if not prepared <= set(self.after_exact):
                    errs.append("prepare kept junk, off-language or exact-duplicate docs")
                bad = ref.unexplained_near_dup_drops(self.after_exact, prepared, THRESHOLD)
                if bad:
                    errs.append(f"prepare dropped {len(bad)} docs without a Jaccard >= {THRESHOLD} partner")
                failures[(c, "prepare")] = errs
            if "match" in cyc.result and prepared is not None:
                survivors = set(pd.read_parquet(cyc.result["match"], columns=["doc_id"])["doc_id"])
                ids = sorted(prepared & set(self.sig))
                drops = ref.match_drops(np.vstack([self.sig[i] for i in ids]), self.known_sig, THRESHOLD)
                want = {i for i, d in zip(ids, drops) if not d}
                failures[(c, "match")] = [] if survivors == want and ids == sorted(prepared) else [
                    f"match kept {len(survivors)} docs, the documented rule keeps {len(want)}"]
                recalls.append(len(planted - survivors) / len(planted))
            if "append" in cyc.result and survivors is not None:
                idx = pd.read_parquet(cyc.result["append"])
                ok = sorted(idx["id"]) == sorted(survivors) and all(
                    np.array_equal(np.asarray(s, dtype=np.int64), self.sig[i]) for i, s in zip(idx["id"], idx["sig"]))
                failures[(c, "append")] = [] if ok else ["appended index is not the survivors' signatures"]
        median = lambda v: float(np.median(v)) if v else 0.0  # noqa: E731
        return failures, {"glm.iterations": 0.0, "dedup.near_dup_recall": median(recalls),
                          "pipeline.pass_ratio": median(passed)}


def known_paths(work: Path) -> tuple[Path, Path]:
    """Where the fixed known corpus (with its reference signatures) and the
    library's index of it live. The index is keyed by a digest of the
    library sources, so a change to the library rebuilds it."""
    import hashlib

    lib = Path(__file__).resolve().parent.parent / "sparkglm_spark"
    h = hashlib.sha256()
    for p in sorted(lib.rglob("*.py")):
        h.update(str(p.relative_to(lib)).encode())
        h.update(p.read_bytes())
    known = work / f"known-{gen.CORPUS_SEED}-{gen.CORPUS_DOCS}"
    return known, known / f"index-{h.hexdigest()[:16]}"


def build_known(spark, work: Path) -> None:
    """Write the known corpus, its reference signatures and the library's
    index of it, each only if missing. Runs outside every timed region."""
    from sparkglm_spark.operators.dedup import minhash_index

    known, index = known_paths(work)
    known.mkdir(parents=True, exist_ok=True)
    docs = known / "docs.parquet"
    if not docs.exists():
        gen.corpus().to_parquet(docs.with_suffix(".tmp"), index=False)
        docs.with_suffix(".tmp").rename(docs)
    sigs = known / "signatures.npy"
    if not sigs.exists():
        texts = pd.read_parquet(docs)["text"].tolist()
        np.save(known / "signatures.tmp.npy", ref.signatures(ref.shingle_hashes(spark, texts)))
        (known / "signatures.tmp.npy").rename(sigs)
    if not index.exists():
        tmp = index.with_name(index.name + ".tmp")
        shutil.rmtree(tmp, ignore_errors=True)
        minhash_index(spark.read.parquet(str(docs)), "doc_id", "text").write.parquet(str(tmp))
        tmp.rename(index)


WORKLOADS = {w.name: w for w in (GlmFits, DedupIngest)}

"""Corpus analytics op of the ``lending_dml`` read mix: one pass of
``exact_dedup``, ``minhash_lsh_pairs`` and ``cosine_pairs_blocked``
over one part of the seeded corpus, and the checks of their results.

Truth comes from the generator: the documents and vectors it wrote and
the duplicate pairs it injected. Exact dedup is checked against a set of
the texts; every verified MinHash pair's Jaccard is recomputed by brute
force; the cosine pairs are compared with a NumPy all-pairs pass over
the part's blocks. LSH recall against the injected pairs is a
measurement, not a check: banding misses a pair with a known
probability.
"""

from __future__ import annotations

import numpy as np

from perfbench import gen

KINDS = ["exact_dedup", "minhash_lsh_pairs", "cosine_pairs_blocked"]
JACCARD, COSINE = 0.8, 0.95


class Corpus:
    def __init__(self, seed: int, parts: int, per_part: int):
        self.docs, self.vecs, near, _vec_pairs = gen.corpus(seed, parts, per_part, per_part)
        d = self.docs.to_pydict()
        self.text = dict(zip(d["doc_id"], d["text"]))
        self.doc_part = dict(zip(d["doc_id"], d["part"]))
        self.injected = [(a, b) for a, b in near if self._jaccard(a, b) >= JACCARD]
        v = self.vecs.to_pydict()
        self.vec = {i: np.asarray(e, dtype=np.float32) for i, e in zip(v["vec_id"], v["embedding"])}
        self.vec_label = dict(zip(v["vec_id"], v["label"]))
        self.vec_part = dict(zip(v["vec_id"], v["part"]))

    def tables(self) -> dict:
        return {"documents": self.docs, "embeddings": self.vecs}

    def _jaccard(self, a: int, b: int) -> float:
        x, y = set(self.text[a].split(" ")), set(self.text[b].split(" "))
        return len(x & y) / len(x | y)

    def docs_in(self, part: int) -> int:
        return sum(1 for p in self.doc_part.values() if p == part)

    # ----------------------------------------------------------------- ops

    def run_pass(self, tr, docs, vecs, part: int) -> dict:
        """One dedup pass over ``part``: every operator, output collected."""
        return {kind: self.call(tr, kind, docs, vecs, part) for kind in KINDS}

    def check_pass(self, part: int, results: dict) -> str | None:
        for kind in KINDS:
            err = self.check(kind, part, results[kind])
            if err:
                return err
        return None

    def call(self, tr, kind: str, docs, vecs, part: int):
        """One operator call over ``part``, its output collected."""
        from pyspark.sql import functions as F

        from ent_fins_lakehouse_spark.operators.dedup import exact_dedup, minhash_lsh_pairs
        from ent_fins_lakehouse_spark.operators.similarity import cosine_pairs_blocked

        if kind == "exact_dedup":
            with tr.span("operators.dedup.exact_dedup"):
                return exact_dedup(docs.filter(F.col("part") == part), ["text"]).count()
        if kind == "minhash_lsh_pairs":
            with tr.span("operators.dedup.minhash_lsh_pairs"):
                df = minhash_lsh_pairs(
                    docs.filter(F.col("part") == part), "doc_id", "text",
                    jaccard_threshold=JACCARD, verify_exact=False,
                )  # fmt: skip
                rows = [tuple(x) for x in df.collect()]
            verified = sum(1 for _a, _b, j in rows if j >= JACCARD)
            tr.record("operators.dedup.candidate_pairs", len(rows))
            tr.record("operators.dedup.verified_pairs", verified)
            tr.record("operators.dedup.lsh_precision", verified / len(rows) if rows else 1.0)
            return rows
        with tr.span("operators.similarity.cosine_pairs_blocked"):
            df = cosine_pairs_blocked(
                vecs.filter(F.col("part") == part), "vec_id", "embedding", ["label"], min_cosine=COSINE
            )
            rows = [tuple(x) for x in df.collect()]
        sizes: dict[int, int] = {}
        for i, p in self.vec_part.items():
            if p == part:
                sizes[self.vec_label[i]] = sizes.get(self.vec_label[i], 0) + 1
        tr.record("operators.similarity.pairs_scored", sum(n * (n - 1) // 2 for n in sizes.values()))
        return rows

    # --------------------------------------------------------------- checks

    def check(self, kind: str, part: int, result) -> str | None:
        if kind == "exact_dedup":
            want = len({t for i, t in self.text.items() if self.doc_part[i] == part})
            return None if result == want else f"exact_dedup kept {result} docs, want {want}"
        if kind == "minhash_lsh_pairs":
            for a, b, j in result:
                if self.doc_part[a] != part or self.doc_part[b] != part or not a < b:
                    return f"pair ({a}, {b}) outside part {part} or unordered"
                if j != self._jaccard(a, b):
                    return f"pair ({a}, {b}) jaccard {j} != {self._jaccard(a, b)}"
            return None
        ids = sorted(i for i, p in self.vec_part.items() if p == part)
        want = {}
        for lab in {self.vec_label[i] for i in ids}:
            blk = [i for i in ids if self.vec_label[i] == lab]
            m = np.stack([self.vec[i].astype(np.float64) for i in blk])
            m /= np.linalg.norm(m, axis=1, keepdims=True)
            sim = m @ m.T
            for x in range(len(blk)):
                for y in range(x + 1, len(blk)):
                    if sim[x, y] >= COSINE - 1e-9:
                        want[(blk[x], blk[y])] = sim[x, y]
        got = {(a, b): c for a, b, c in result}
        for k in set(got) ^ set(want):
            if abs(want.get(k, got.get(k)) - COSINE) > 1e-9:
                return f"cosine pair {k} differs from brute force"
        for k in set(got) & set(want):
            if abs(got[k] - want[k]) > 1e-9:
                return f"cosine pair {k}: {got[k]} != {want[k]}"
        return None

    def recall(self, found: set[tuple[int, int]], parts: set[int]) -> float:
        want = [(a, b) for a, b in self.injected if self.doc_part[a] in parts]
        return sum(1 for p in want if p in found) / len(want) if want else 1.0

"""Embedding classifier operators (reference E1-E4,
src/catalog_pii_scanner/embeddings.py).

Reference shape: SBERT all-MiniLM-L6-v2 normalized embeddings with an
offline deterministic fallback (seeded normal vectors, embeddings.py:63-70),
a per-class one-vs-rest logistic head (sklearn Pipeline, embeddings.py:
72-138), joblib persistence. Trained on redacted +/-48-char contexts of
gold spans with the span masked.

This environment ships numpy but not sklearn/SBERT, so:
- E1 encode: deterministic offline embedder — per-text seeded
  ``RandomState(md5(text))`` normal vector, L2-normalized (dimension 32,
  matching the reference's fallback). Per-text seeding (vs the reference's
  per-batch seed 42) makes the embedding a pure function of the text, so
  results are independent of batching/partitioning — required for a
  distributed engine.
- E2/E3 heads: one-vs-rest logistic regression implemented directly in
  numpy (full-batch gradient descent, fixed iterations/step => exactly
  reproducible), with the reference's trivial-estimator fallback for
  all-0/all-1 classes.
- E4 persistence: plain .npz (no joblib dependency).

Spark shape: encode+predict run in ONE mapInPandas stage (Arrow batches,
numpy matmul per batch); training collects the (small) labeled contexts
to the driver exactly like the reference does.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from ..pii_types import ALL_PII_TYPES

EMBED_DIM = 32

_HEX = "0123456789abcdef"


def embed_text(text: str) -> np.ndarray:
    """E1 offline embedder: deterministic per-text normal vector."""
    seed = int.from_bytes(
        hashlib.md5(text.encode("utf-8")).digest()[:4], "big")
    v = np.random.RandomState(seed).normal(size=EMBED_DIM)
    n = np.linalg.norm(v)
    return (v / n if n else v).astype(np.float64)


def md5hex_embed(text: str) -> np.ndarray:
    """SQL-expressible offline embedder: the 32 md5 hex digits of the text
    as integer-valued features in [0, 15]. Exactly computable in any SQL
    dialect (substr + instr over md5), which makes the full E1->E2->fusion
    pipeline oracle-checkable — and every arithmetic step downstream stays
    EXACT in float64 (integer features x half-integer/16 weights), so the
    engine and the oracle agree bit-for-bit up to the final sigmoid."""
    h = hashlib.md5(text.encode("utf-8")).hexdigest()
    return np.array([float(_HEX.index(c)) for c in h])


def _det_unit(key: str) -> float:
    """Deterministic weight in {-7.5/16 .. +7.5/16}: (first md5 hex digit
    of key - 7.5) / 16 — every value is an exact binary fraction."""
    d = _HEX.index(hashlib.md5(key.encode("utf-8")).hexdigest()[0])
    return (d - 7.5) / 16.0


def deterministic_head_weights(pii_type: str) -> np.ndarray:
    """Fixed logistic head w[EMBED_DIM + 1] (last = bias) for the
    md5hex embedding space, derived from md5 of '<type>:w:<j>' — the
    hermetic stand-in for a trained head, identical in the engine and the
    DuckDB oracle (see full-pipeline oracle rendering)."""
    w = [_det_unit(f"{pii_type}:w:{j}") for j in range(EMBED_DIM)]
    return np.array(w + [_det_unit(f"{pii_type}:b")])


def deterministic_model() -> "EmbedModel":
    """EmbedModel over the md5hex embedding with deterministic logistic
    heads for every PII type — predict_proba is a pure, SQL-renderable
    function of the text."""
    return EmbedModel(
        heads={t: ("logistic", deterministic_head_weights(t))
               for t in ALL_PII_TYPES},
        embedder="md5hex")


def _sigmoid(z: np.ndarray) -> np.ndarray:
    out = np.empty_like(z)
    pos = z >= 0
    out[pos] = 1.0 / (1.0 + np.exp(-z[pos]))
    ez = np.exp(z[~pos])
    out[~pos] = ez / (1.0 + ez)
    return out


#: embedder name -> per-text embedding function (E1 variants).
EMBEDDERS = {"rand": embed_text, "md5hex": md5hex_embed}


@dataclass
class EmbedModel:
    """OvR logistic heads over an offline embedding space (E2/E3)."""
    #: type -> ("logistic", w[dim+1]) | ("trivial", constant_p)
    heads: dict[str, tuple] = field(default_factory=dict)
    #: which E1 embedding the heads were fit/defined over.
    embedder: str = "rand"

    def _embed(self, text: str) -> np.ndarray:
        return EMBEDDERS[self.embedder](text)

    def fit(self, texts: list[str], labels: list[str]) -> "EmbedModel":
        X = np.stack([self._embed(t) for t in texts])
        Xb = np.hstack([X, np.ones((len(X), 1))])
        for t in sorted(set(labels) & set(ALL_PII_TYPES)):
            y = np.array([1.0 if l == t else 0.0 for l in labels])
            if y.min() == y.max():  # reference's trivial-estimator fallback
                self.heads[t] = ("trivial", float(y[0]))
                continue
            # balanced class weights, like the reference's sklearn config
            w_pos = len(y) / (2.0 * y.sum())
            w_neg = len(y) / (2.0 * (len(y) - y.sum()))
            sw = np.where(y == 1.0, w_pos, w_neg)
            w = np.zeros(Xb.shape[1])
            for _ in range(300):
                p = _sigmoid(Xb @ w)
                w -= 0.5 * (Xb.T @ ((p - y) * sw)) / len(y)
            self.heads[t] = ("logistic", w)
        return self

    def predict_proba(self, texts: list[str]) -> list[dict[str, float]]:
        if not self.heads:  # no classifier -> all-zeros (reference)
            return [{} for _ in texts]
        X = np.stack([self._embed(t) for t in texts])
        Xb = np.hstack([X, np.ones((len(X), 1))])
        out: list[dict[str, float]] = [{} for _ in texts]
        for t, (kind, param) in sorted(self.heads.items()):
            probs = (np.full(len(texts), param) if kind == "trivial"
                     else _sigmoid(Xb @ param))
            for i, p in enumerate(probs):
                out[i][t] = float(p)
        return out

    # E4 persistence ---------------------------------------------------------
    def save(self, path: str) -> None:
        arrays = {}
        meta = []
        for t, (kind, param) in self.heads.items():
            meta.append(f"{t}:{kind}")
            arrays[t] = (np.asarray([param]) if kind == "trivial"
                         else np.asarray(param))
        np.savez(path, __meta__=np.array(meta),
                 __embedder__=np.array([self.embedder]), **arrays)

    @classmethod
    def load(cls, path: str) -> "EmbedModel":
        data = np.load(path, allow_pickle=False)
        model = cls()
        if "__embedder__" in data:
            model.embedder = str(data["__embedder__"][0])
        for entry in data["__meta__"]:
            t, kind = str(entry).split(":")
            arr = data[t]
            model.heads[t] = (
                ("trivial", float(arr[0])) if kind == "trivial"
                else ("logistic", arr))
        return model


def embed_probs(df: DataFrame, model: EmbedModel) -> DataFrame:
    """E1+E2 as one Arrow-batched stage. The model rides the closure (tiny
    — per-type weight vectors); heavyweight models would ship via
    SparkContext.addFile + executor-global lazy load instead."""
    heads, embedder = model.heads, model.embedder
    fields = [f.name for f in df.schema.fields]
    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    ) + ", embed_probs map<string,double>"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        local = EmbedModel(heads, embedder)
        for pdf in batches:
            probs = local.predict_proba(list(pdf["context"]))
            pdf = pdf.copy()
            pdf["embed_probs"] = probs
            yield pdf[fields + ["embed_probs"]]

    return df.mapInPandas(run, out_schema)

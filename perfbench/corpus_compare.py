#!/usr/bin/env python3
"""Compares the generated corpus with graft's test corpus, column by column.

Usage:

    python3 perfbench/corpus_compare.py <test-corpus dir> <sf> [<sf dir> <sf> ...]

Each `<test-corpus dir>` is one scale of the parquet corpus that graft's
tests and `graft.Bench` read (e.g. `.../sf0.01`); `<sf>` is its scale
factor. For every table the report compares the row count and the
schema (parquet types, timestamp units included), and for every column
the statistics that decide how much work graft's operators do on it:

- numbers and timestamps: the two-sample Kolmogorov-Smirnov distance
  between their distributions, mean, standard deviation, distinct count;
- strings: distinct count, mean length, and for categorical columns the
  value set and the distance between the frequency tables;
- `embeddings.embedding`: dimension, norm, and how much closer vectors
  of one label are than vectors of different labels;
- `documents.text`: vocabulary, words per document, near-duplicate and
  exact-duplicate fractions;
- `events`: the `ts` span and events per user.

Each comparison is printed with both values and `ok` or `DIFFERS`. The
tolerances allow for sampling noise (they widen as tables get smaller):
two samples of one distribution pass. The exit code is non-zero if any
comparison differs.
"""
import io
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

import corpus

# categorical: a string column with at most this many distinct values
CATEGORICAL = 100


class Report:
    def __init__(self):
        self.bad = 0

    def line(self, what, ref, gen, ok):
        self.bad += not ok
        print(f"  {what:44s} test {ref:>14s}  gen {gen:>14s}  {'ok' if ok else 'DIFFERS'}")

    def num(self, what, ref, gen, tol):
        self.line(what, f"{ref:.6g}", f"{gen:.6g}", abs(ref - gen) <= tol)


def numeric(col):
    if pa.types.is_timestamp(col.type):
        col = pc.cast(col, pa.int64())
    return col.to_numpy().astype(np.float64)


def ks_distance(a, b):
    """Two-sample Kolmogorov-Smirnov statistic (ties allowed)."""
    xs = np.union1d(a, b)
    fa = np.searchsorted(np.sort(a), xs, side="right") / len(a)
    fb = np.searchsorted(np.sort(b), xs, side="right") / len(b)
    return float(np.max(np.abs(fa - fb)))


def compare_column(rep, t, c, ref, gen):
    ty = ref.type
    n = min(len(ref), len(gen))
    if pa.types.is_integer(ty) or pa.types.is_floating(ty) or pa.types.is_timestamp(ty):
        a, b = numeric(ref), numeric(gen)
        # the KS critical value at a 0.1% level
        rep.num(f"{t}.{c} KS distance", 0.0, ks_distance(a, b), 1.95 * np.sqrt(2.0 / n))
        sd = max(a.std(), 1e-12)
        rep.num(f"{t}.{c} mean", a.mean(), b.mean(), 4 * sd * np.sqrt(2.0 / n))
        rep.num(f"{t}.{c} std", a.std(), b.std(), sd * (0.05 + 3 / np.sqrt(2.0 * n)))
        na, nb = len(np.unique(a)), len(np.unique(b))
        rep.num(f"{t}.{c} distinct", na, nb, 0.05 * na + 3 * np.sqrt(na))
    elif pa.types.is_string(ty):
        a, b = ref.to_pylist(), gen.to_pylist()
        sa, sb = set(a), set(b)
        rep.num(f"{t}.{c} distinct", len(sa), len(sb), 0.05 * len(sa) + 3 * np.sqrt(len(sa)))
        la, lb = np.mean([len(x) for x in a]), np.mean([len(x) for x in b])
        rep.num(f"{t}.{c} mean length", la, lb, 0.1 * la)
        if len(sa) <= CATEGORICAL:
            m = len(sa | sb)
            if n >= 20 * m:  # every value expected often enough to show
                rep.line(f"{t}.{c} value set", f"{len(sa)} values", f"{len(sb)} values",
                         sa == sb)
            fa = {v: a.count(v) / len(a) for v in sa}
            fb = {v: b.count(v) / len(b) for v in sb}
            # total variation distance between the frequency tables; two
            # samples of n from m equally likely values sit near
            # 0.4 * sqrt(2m / n) apart
            tv = 0.5 * sum(abs(fa.get(v, 0) - fb.get(v, 0)) for v in sa | sb)
            rep.num(f"{t}.{c} frequency distance", 0.0, tv,
                    0.02 + 1.2 * np.sqrt(2.0 * m / n))


def embedding_stats(col, labels):
    """(dimension, mean norm, label cohesion): the mean cosine of two
    vectors of one label minus that of any two vectors."""
    v = np.array(col.to_pylist(), dtype=np.float64)
    n = np.linalg.norm(v, axis=1)
    u = v / n[:, None]
    cents = np.stack([u[labels == k].mean(0) for k in np.unique(labels)])
    within = float(np.mean(np.linalg.norm(cents, axis=1) ** 2))
    overall = float(np.linalg.norm(u.mean(0)) ** 2)
    return v.shape[1], float(n.mean()), within - overall


def compare_table(rep, t, ref, gen):
    rep.line(f"{t} rows", str(ref.num_rows), str(gen.num_rows), ref.num_rows == gen.num_rows)
    rep.line(f"{t} schema", "", "", ref.schema.remove_metadata() == gen.schema.remove_metadata())
    for c in ref.column_names:
        if t == "embeddings" and c == "embedding":
            da, na, ca = embedding_stats(ref[c], ref["label"].to_numpy())
            db, nb, cb = embedding_stats(gen[c], gen["label"].to_numpy())
            rep.num(f"{t}.{c} dimension", da, db, 0)
            rep.num(f"{t}.{c} mean norm", na, nb, 0.01)
            rep.num(f"{t}.{c} label cohesion", ca, cb, 0.02)
        elif t == "documents" and c == "text":
            compare_text(rep, ref[c].to_pylist(), gen[c].to_pylist())
        else:
            compare_column(rep, t, c, ref[c], gen[c])
    if t == "events":
        ua = np.bincount(ref["user_id"].to_numpy())
        ub = np.bincount(gen["user_id"].to_numpy())
        rep.num("events per user, mean", ua.mean(), ub.mean(), 0.05 * ua.mean())
        rep.num("events per user, std", ua.std(), ub.std(),
                ua.std() * (0.05 + 3 / np.sqrt(2.0 * len(ua))))


def compare_text(rep, a, b):
    def facts(texts):
        words = [x.split() for x in texts]
        vocab = {w for ws in words for w in ws}
        n = len(texts)
        return (vocab, np.mean([len(ws) for ws in words]),
                sum(x.endswith(" dup") for x in texts) / n,
                (n - len(set(texts))) / n)
    va, wa, na, xa = facts(a)
    vb, wb, nb, xb = facts(b)
    rep.line("documents.text vocabulary", f"{len(va)} words", f"{len(vb)} words", va == vb)
    rep.num("documents.text words per document", wa, wb, 0.05 * wa)
    rep.num("documents.text near-duplicate fraction", na, nb, 0.01)
    rep.num("documents.text exact-duplicate fraction", xa, xb, 0.005)
    la, lb = np.mean([len(x) for x in a]), np.mean([len(x) for x in b])
    rep.num("documents.text mean length", la, lb, 0.05 * la)


def main(argv):
    if len(argv) < 2 or len(argv) % 2:
        sys.exit(__doc__)
    rep = Report()
    for ref_dir, sf in zip(argv[::2], argv[1::2]):
        print(f"test corpus {os.path.basename(os.path.normpath(ref_dir))} against corpus.py at sf{sf}")
        for t, table in corpus.build(float(sf)).items():
            # through parquet, as the benchmark writes and reads it
            buf = io.BytesIO()
            pq.write_table(table, buf)
            gen = pq.read_table(io.BytesIO(buf.getvalue()))
            compare_table(rep, t, pq.read_table(f"{ref_dir}/{t}.parquet"), gen)
    print(f"{rep.bad} comparisons differ")
    sys.exit(1 if rep.bad else 0)


if __name__ == "__main__":
    main(sys.argv[1:])

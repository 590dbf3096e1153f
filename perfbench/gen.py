"""Seeded input generator for the benchmark workloads.

Every draw is a whole-array numpy call on a ``np.random.Generator``
seeded from ``--seed``, so the same seed and sizes give byte-identical
files. The program under test only ever sees the files written here;
the ground-truth arrays returned alongside stay with the benchmark and
feed its output checks.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pandas as pd


@dataclass(frozen=True)
class Sizes:
    # kos_offline: LDA corpus with kos-like shape (UCI docword + vocab)
    kos_docs: int = 800
    kos_heldout: int = 200
    kos_vocab: int = 7000
    kos_doc_len: int = 160
    kos_true_topics: int = 15
    # DecorrelatorPhi tau scales with n_wt, i.e. with corpus tokens
    kos_decorrelator_tau: float = 1.5e5
    # dedup_clean / stream_dedup: Zipf text with planted duplicates
    text_docs: int = 500
    stream_docs: int = 400
    text_vocab: int = 20000
    text_doc_len: int = 60
    exact_dup_rate: float = 0.05
    near_dup_rate: float = 0.05
    junk_rate: float = 0.03
    stream_files: int = 2


TINY = Sizes(
    kos_docs=60, kos_heldout=10, kos_vocab=300, kos_doc_len=40,
    kos_decorrelator_tau=50.0,
    text_docs=200, stream_docs=100, text_vocab=3000,
)


def _rng(seed: int, stream: str) -> np.random.Generator:
    # one independent stream per input kind: resizing one workload never
    # shifts the draws of another
    tag = int.from_bytes(stream.encode()[:8].ljust(8, b"\0"), "little")
    return np.random.default_rng([seed, tag])


def _zipf_weights(n: int, s: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** s
    return w / w.sum()


def _lda_counts(rng, docs, vocab, doc_len, topics, alpha, beta_scale):
    """(doc, word, count) triples of an LDA draw, doc-then-word sorted.

    Topics share a Zipf base measure, so word frequencies follow a
    power law as in real corpora."""
    base = _zipf_weights(vocab, 1.05)
    phi = rng.gamma(beta_scale * base * vocab, 1.0, size=(topics, vocab))
    phi /= phi.sum(axis=1, keepdims=True)
    theta = rng.dirichlet(np.full(topics, alpha), size=docs)
    lens = np.maximum(rng.poisson(doc_len, size=docs), 2)
    per_topic = rng.multinomial(lens, theta)  # (docs, topics)
    doc_ids, words = [], []
    for t in range(topics):
        n_t = per_topic[:, t]
        doc_ids.append(np.repeat(np.arange(docs), n_t))
        words.append(rng.choice(vocab, size=int(n_t.sum()), p=phi[t]))
    key = np.concatenate(doc_ids).astype(np.int64) * vocab + np.concatenate(words)
    uniq, cnt = np.unique(key, return_counts=True)
    return uniq // vocab, uniq % vocab, cnt


def _vocab_words(rng, n: int, prefix: str) -> np.ndarray:
    # unique pseudo-words: shuffled ids spelled in base-26 letters
    ids = rng.permutation(n) + 26 ** 2
    out = []
    for i in ids:
        s = ""
        while i:
            i, r = divmod(int(i), 26)
            s = chr(97 + r) + s
        out.append(prefix + s)
    return np.asarray(out)


def _write_uci(path: str, d, w, c, n_docs: int, n_vocab: int) -> None:
    with open(path, "w") as fh:
        fh.write(f"{n_docs}\n{n_vocab}\n{len(d)}\n")
        pd.DataFrame({"d": d + 1, "w": w + 1, "c": c}).to_csv(
            fh, sep=" ", header=False, index=False
        )


@dataclass
class KosInputs:
    train: str  # UCI docword file
    heldout: str
    vocab: str
    nnz: int
    heldout_docs: int


def gen_kos(seed: int, out: str, sz: Sizes) -> KosInputs:
    rng = _rng(seed, "kos")
    n = sz.kos_docs + sz.kos_heldout
    d, w, c = _lda_counts(
        rng, n, sz.kos_vocab, sz.kos_doc_len, sz.kos_true_topics, 0.1, 0.05
    )
    words = _vocab_words(rng, sz.kos_vocab, "")
    os.makedirs(out, exist_ok=True)
    vocab = os.path.join(out, "vocab.kos.txt")
    with open(vocab, "w") as fh:
        fh.write("\n".join(words) + "\n")
    train = d < sz.kos_docs
    docword = os.path.join(out, "docword.kos.txt")
    heldout = os.path.join(out, "docword.kos_heldout.txt")
    _write_uci(docword, d[train], w[train], c[train], sz.kos_docs, sz.kos_vocab)
    _write_uci(
        heldout, d[~train] - sz.kos_docs, w[~train], c[~train],
        sz.kos_heldout, sz.kos_vocab,
    )
    return KosInputs(docword, heldout, vocab, int(train.sum()), sz.kos_heldout)


@dataclass
class TextInputs:
    docs: str  # parquet file (doc_id, text)
    stream_dir: str  # stream_files parquet files, one per micro-batch
    n_docs: int
    # ground truth: planted duplicate -> its source, by kind
    exact_src: dict
    near_src: dict
    junk: set
    texts: dict  # doc_id -> text
    stream_file_of: dict  # doc_id -> index of the file carrying it


def _texts(rng, n: int, vocab: np.ndarray, length: int) -> np.ndarray:
    p = _zipf_weights(len(vocab), 1.0)
    ids = rng.choice(len(vocab), size=(n, length), p=p)
    return ids


def gen_stream_text(seed: int, out: str, sz: Sizes) -> TextInputs:
    """The stream workload's corpus: like gen_text, fewer docs, so each
    of the ``stream_files`` micro-batches stays small."""
    return gen_text(seed, out, sz, sz.stream_docs)


def gen_text(seed: int, out: str, sz: Sizes, n_base: int | None = None) -> TextInputs:
    """Zipf text docs with planted exact and near (2-word-edit) copies,
    a few low-quality junk docs. Duplicates always get a higher doc_id than
    their source, so a keep-the-minimum canonical keeps the source."""
    rng = _rng(seed, "text")
    vocab = _vocab_words(rng, sz.text_vocab, "")
    n_base = n_base or sz.text_docs
    n_exact = int(n_base * sz.exact_dup_rate)
    n_near = int(n_base * sz.near_dup_rate)
    n_junk = int(n_base * sz.junk_rate)
    base = _texts(rng, n_base, vocab, sz.text_doc_len)
    ex_src = rng.choice(n_base, size=n_exact, replace=False)
    nr_src = rng.choice(np.setdiff1d(np.arange(n_base), ex_src), size=n_near, replace=False)
    near = base[nr_src].copy()
    # two distinct positions per near copy, replaced by fresh words
    pos = np.argsort(rng.random((n_near, sz.text_doc_len)), axis=1)[:, :2]
    near[np.arange(n_near)[:, None], pos] = rng.choice(len(vocab), size=(n_near, 2))
    junk = np.repeat(rng.choice(len(vocab), size=(n_junk, 1)), 8, axis=1)
    rows = [
        " ".join(vocab[r])
        for part in (base, base[ex_src], near, junk)
        for r in part
    ]
    n = len(rows)
    # arrival order is random; of each planted pair the earlier arrival
    # (lower doc_id) is the source, so keep-the-minimum keeps the source
    doc_id = rng.permutation(n).astype(np.int64) + 1
    def pairs(first_dup, src_rows):
        out = {}
        for i, s in enumerate(src_rows):
            a, b = int(doc_id[s]), int(doc_id[first_dup + i])
            out[max(a, b)] = min(a, b)
        return out
    exact_src = pairs(n_base, ex_src)
    near_src = pairs(n_base + n_exact, nr_src)
    junk_ids = {int(x) for x in doc_id[n_base + n_exact + n_near:]}
    order = np.argsort(doc_id)
    doc_id, text = doc_id[order], [rows[i] for i in order]
    os.makedirs(out, exist_ok=True)
    docs_p = os.path.join(out, "docs.parquet")
    frame = pd.DataFrame({"doc_id": doc_id, "text": text})
    frame.to_parquet(docs_p, index=False)

    # stream: docs in arrival order = doc_id order, split into files whose
    # names sort in arrival order (the file source orders by mtime, then
    # path; mtimes are set explicitly so both agree)
    stream_dir = os.path.join(out, "stream")
    os.makedirs(stream_dir, exist_ok=True)
    bounds = np.linspace(0, n, sz.stream_files + 1).astype(int)
    file_of = {}
    for f in range(sz.stream_files):
        part = frame.iloc[bounds[f]:bounds[f + 1]]
        p = os.path.join(stream_dir, f"part-{f:04d}.parquet")
        part.to_parquet(p, index=False)
        os.utime(p, (1_600_000_000 + f, 1_600_000_000 + f))
        file_of.update({int(i): f for i in part["doc_id"]})
    return TextInputs(
        docs_p, stream_dir, n, exact_src, near_src,
        junk_ids, dict(zip(doc_id.tolist(), text)), file_of,
    )

"""Seeded inputs for the benchmark: a corpus and a search mix.

Everything here is pure Python/NumPy and depends only on the seed, so the
same seed always yields byte-identical documents and query strings. The
engine never sees the generator: it receives parquet files and query text.

The corpus has a Zipf(1.07) vocabulary and lognormal document lengths, so
posting lists range from corpus-sized (head terms) to singletons (tail),
which is what makes df literals, bucket pruning and expansion resolution
behave as they would on real text. Words are random lowercase letter
strings, so the tokenizer maps each word to itself and prefixes, fuzzy
neighbours and wildcards hit a handful of unrelated terms.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

ZIPF_S = 1.07
MEAN_DOC_TOKENS = 110
# query-language keywords are case-insensitive, so no word may spell one
_RESERVED = {"and", "or", "not", "to", "near"}


@dataclass
class Corpus:
    vocab: list[str]  # vocab[r] is the word of Zipf rank r (0 = most frequent)
    doc_ids: list[int]
    tokens: list[list[str]]  # per document, in order

    @property
    def texts(self) -> list[str]:
        return [" ".join(t) for t in self.tokens]

    @property
    def n_tokens(self) -> int:
        return sum(len(t) for t in self.tokens)

    @property
    def avgdl(self) -> float:
        return self.n_tokens / len(self.tokens)


def make_vocab(rng: np.random.Generator, size: int) -> list[str]:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    seen: set[str] = set()
    out: list[str] = []
    while len(out) < size:
        n = int(rng.integers(4, 10))
        w = "".join(rng.choice(letters, n))
        if w not in seen and w not in _RESERVED:
            seen.add(w)
            out.append(w)
    return out


def make_corpus(seed: int, n_docs: int, vocab_size: int) -> Corpus:
    rng = np.random.default_rng([seed, 1])
    vocab = make_vocab(rng, vocab_size)
    p = np.arange(1, vocab_size + 1, dtype=np.float64) ** -ZIPF_S
    p /= p.sum()
    # lognormal with sigma 0.5: mean = exp(mu + sigma^2 / 2) = MEAN_DOC_TOKENS
    mu = np.log(MEAN_DOC_TOKENS) - 0.125
    lens = np.maximum(3, rng.lognormal(mu, 0.5, n_docs).astype(np.int64))
    ranks = rng.choice(vocab_size, size=int(lens.sum()), p=p)
    tokens, at = [], 0
    for n in lens:
        tokens.append([vocab[r] for r in ranks[at : at + n]])
        at += n
    return Corpus(vocab, list(range(n_docs)), tokens)


def write_docs(path: str, doc_ids: list[int], texts: list[str]) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.table({"doc_id": pa.array(doc_ids, pa.int64()), "text": texts}), path
    )


# ---------------- search mix ----------------

KINDS = ("bm25", "bool", "phrase", "expand")


def _mid(rng, vocab, lo: int, hi: int) -> str:
    """A word of Zipf rank in [lo, hi), clipped to the vocabulary."""
    return vocab[int(rng.integers(lo, min(hi, len(vocab))))]


def _bool_query(rng, vocab, form: int, lo: int = 5, hi: int = 400) -> str:
    a, b, c = (_mid(rng, vocab, lo, hi) for _ in range(3))
    return (
        f"{a} AND {b}",
        f"{a} OR {b}",
        f"{a} AND NOT {b}",
        f"({a} OR {b}) AND {c}",
    )[form % 4]


def _expand_query(rng, vocab, form: int) -> str:
    w = _mid(rng, vocab, 20, 3000)
    atom = (f"{w[:3]}*", f"{w}~1", f"{w[0]}?{w[2:4]}*")[form % 3]
    if form % 2:
        return f"{atom} OR {_mid(rng, vocab, 50, 1000)}"
    return atom


def _phrase_query(rng, corpus: Corpus) -> str:
    toks = corpus.tokens[int(rng.integers(len(corpus.tokens)))]
    i = int(rng.integers(len(toks) - 1))
    return f'"{toks[i]} {toks[i + 1]}"'


def search_mix(seed: int, corpus: Corpus, n: int, repeat_frac: float = 0.25):
    """[(kind, text)]: half BM25, the rest boolean, phrase and expansion in
    equal shares, and ``repeat_frac`` of the entries repeating an earlier
    text. The counts of each kind and query form are the same for every
    seed; the seed picks the words and the order, so seeds differ in
    content but not in the mix."""
    rng = np.random.default_rng([seed, 2])
    vocab = corpus.vocab
    n_rep = round(n * repeat_frac)
    uniq = []
    for j in range(n - n_rep):
        if j % 2 == 0:
            words = (_mid(rng, vocab, 10, 3000) for _ in range(2 + j // 2 % 2))
            uniq.append(("bm25", " ".join(words)))
        elif j % 6 == 1:
            uniq.append(("bool", _bool_query(rng, vocab, j // 6)))
        elif j % 6 == 3:
            uniq.append(("phrase", _phrase_query(rng, corpus)))
        else:
            uniq.append(("expand", _expand_query(rng, vocab, j // 6)))
    # repeats are spread evenly over the unique entries, so they share the mix
    reps = [uniq[round(i * len(uniq) / n_rep)] for i in range(n_rep)]
    order = [uniq[i] for i in rng.permutation(len(uniq))]
    for q in reps:  # each repeat lands somewhere after its first occurrence
        first = order.index(q)
        order.insert(int(rng.integers(first + 1, len(order) + 1)), q)
    return order


# ---------------- inputs of the traced layer probe ----------------


def stored_queries(seed: int, corpus: Corpus, n: int, docs: int) -> list[tuple[int, str]]:
    """[(query_id, text)]: ``n`` percolator queries over mid-frequency
    terms, so alerts stay sparse. A fifth are single terms or phrases drawn
    from the first ``docs`` documents, so every run raises some alerts."""
    rng = np.random.default_rng([seed, 3])
    vocab, out = corpus.vocab, []
    for j in range(n):
        if j % 5 == 0:
            toks = corpus.tokens[int(rng.integers(docs))]
            i = int(rng.integers(len(toks) - 1))
            q = f'"{toks[i]} {toks[i + 1]}"' if j % 10 else toks[i]
        elif j % 5 == 1:
            q = _mid(rng, vocab, 300, 3000)
        else:
            q = _bool_query(rng, vocab, j, 300, 3000)
        out.append((j + 1, q))
    return out


def near_dup_docs(seed: int, corpus: Corpus, docs: int, dups: int):
    """(doc_ids, texts): the first ``docs`` documents plus ``dups`` exact
    copies and ``dups`` copies with one token replaced, under new ids."""
    rng = np.random.default_rng([seed, 4])
    ids, toks = list(corpus.doc_ids[:docs]), [list(t) for t in corpus.tokens[:docs]]
    for j, src in enumerate(rng.choice(docs, 2 * dups, replace=False)):
        t = list(corpus.tokens[src])
        if j % 2:
            t[int(rng.integers(len(t)))] = corpus.vocab[int(rng.integers(len(corpus.vocab)))]
        ids.append(len(corpus.doc_ids) + j)
        toks.append(t)
    return ids, [" ".join(t) for t in toks]


def embeddings(seed: int, n: int, dim: int) -> np.ndarray:
    """``n`` seeded vectors of ``dim`` floats, rounded to 4 decimals."""
    rng = np.random.default_rng([seed, 5])
    return np.round(rng.standard_normal((n, dim)), 4)


def graph(seed: int, n_nodes: int, n_edges: int) -> list[tuple[int, int, int]]:
    """Distinct weighted edges (src, dst, w) without self loops."""
    rng = np.random.default_rng([seed, 6])
    edges: dict[tuple[int, int], int] = {}
    while len(edges) < n_edges:
        s, d = (int(x) for x in rng.integers(n_nodes, size=2))
        if s != d:
            edges.setdefault((s, d), int(rng.integers(1, 10)))
    return [(s, d, w) for (s, d), w in edges.items()]

"""Pure-Python references the benchmark checks the engine's outputs against.

Nothing here runs engine code: the query grammar subset the generator
emits (terms, AND/OR/NOT, parentheses, two-word phrases, ``pre*``,
``word~1`` and ``?``/``*`` wildcards) is parsed and evaluated over the
generated token lists directly, so a defect shared by the engine's parser
and its compilers cannot hide itself. The MinHash and quality-classifier
references take the engine's published model constants (permutations,
weights) as parameters, and recompute everything else.
"""

from __future__ import annotations

import hashlib
import math
import re
from decimal import ROUND_HALF_UP, Decimal

K1, B = 1.2, 0.75
SCORE_TOL = 1e-4  # one unit in the 4th decimal: rounding of last-ulp differences


def tokenize(s: str) -> list[str]:
    return [t for t in re.split("[^a-z0-9]+", s.lower()) if t]


def round4(x: float) -> float:
    return float(Decimal(repr(x)).quantize(Decimal("0.0001"), ROUND_HALF_UP))


class TextIndex:
    """Inverted positions over generated token lists."""

    def __init__(self, doc_ids, tokens):
        self.all = set(doc_ids)
        self.dl = {d: len(t) for d, t in zip(doc_ids, tokens)}
        self.n_docs = len(self.dl)
        self.avgdl = sum(self.dl.values()) / self.n_docs
        self.pos: dict[str, dict[int, list[int]]] = {}
        for d, toks in zip(doc_ids, tokens):
            for i, t in enumerate(toks):
                self.pos.setdefault(t, {}).setdefault(d, []).append(i)

    def docs(self, term: str) -> set[int]:
        return set(self.pos.get(term, ()))

    # ---- BM25, same formula and idf as the engine's documented scoring ----
    def bm25(self, query: str) -> dict[int, float]:
        scores: dict[int, float] = {}
        for t in sorted(set(tokenize(query))):
            post = self.pos.get(t, {})
            df = len(post)
            idf = math.log(1.0 + (self.n_docs - df + 0.5) / (df + 0.5))
            for d, ps in post.items():
                tf = len(ps)
                norm = tf + K1 * ((1 - B) + B * self.dl[d] / self.avgdl)
                scores[d] = scores.get(d, 0.0) + idf * (tf * (K1 + 1)) / norm
        return {d: round4(s) for d, s in scores.items()}

    # ---- boolean evaluation of the generated grammar subset ----
    def matches(self, query: str) -> set[int]:
        return self._eval(_parse(query))

    def _expand(self, kind: str, arg: str) -> list[str]:
        if kind == "prefix":
            return [t for t in self.pos if t.startswith(arg)]
        if kind == "fuzzy":
            return [t for t in self.pos if _within_one(t, arg)]
        rx = re.compile(re.escape(arg).replace(r"\?", ".").replace(r"\*", ".*"))
        return [t for t in self.pos if rx.fullmatch(t)]

    def _eval(self, node) -> set[int]:
        op = node[0]
        if op == "term":
            return self.docs(node[1])
        if op == "phrase":
            a, b = node[1]
            pa, pb = self.pos.get(a, {}), self.pos.get(b, {})
            return {
                d for d in pa.keys() & pb.keys() if set(pb[d]) & {p + 1 for p in pa[d]}
            }
        if op in ("prefix", "fuzzy", "wild"):
            out: set[int] = set()
            for t in self._expand(op, node[1]):
                out |= self.docs(t)
            return out
        if op == "not":
            return self.all - self._eval(node[1])
        parts = [self._eval(c) for c in node[1]]
        return set.intersection(*parts) if op == "and" else set.union(*parts)


def _within_one(a: str, b: str) -> bool:
    """Levenshtein distance(a, b) <= 1."""
    if a == b:
        return True
    la, lb = len(a), len(b)
    if abs(la - lb) > 1:
        return False
    if la == lb:
        return sum(x != y for x, y in zip(a, b)) == 1
    if la > lb:
        a, b = b, a
    i = 0
    while i < len(a) and a[i] == b[i]:
        i += 1
    return a[i:] == b[i + 1 :]


_TOK = re.compile(r'\(|\)|"[^"]*"|[^\s()"]+')


def _parse(q: str):
    toks = _TOK.findall(q)
    at = 0

    def peek():
        return toks[at] if at < len(toks) else None

    def take():
        nonlocal at
        at += 1
        return toks[at - 1]

    def p_or():
        parts = [p_and()]
        while peek() == "OR":
            take()
            parts.append(p_and())
        return parts[0] if len(parts) == 1 else ("or", parts)

    def p_and():
        parts = [p_unary()]
        while peek() not in (None, ")", "OR"):
            if peek() == "AND":
                take()
            parts.append(p_unary())
        return parts[0] if len(parts) == 1 else ("and", parts)

    def p_unary():
        if peek() == "NOT":
            take()
            return ("not", p_unary())
        t = take()
        if t == "(":
            node = p_or()
            if take() != ")":
                raise ValueError(f"unbalanced query {q!r}")
            return node
        if t.startswith('"'):
            words = tokenize(t)
            if len(words) != 2:
                raise ValueError(f"only two-word phrases are generated: {q!r}")
            return ("phrase", tuple(words))
        if t.endswith("~1"):
            return ("fuzzy", t[:-2])
        if "?" in t or "*" in t[:-1]:
            return ("wild", t)
        if t.endswith("*"):
            return ("prefix", t[:-1])
        return ("term", t)

    node = p_or()
    if peek() is not None:
        raise ValueError(f"trailing tokens in {q!r}")
    return node


# ---------------- result checks (each returns a list of problems) ----------------


def check_topk(rows: list[tuple[int, float]], ref: dict[int, float], k: int) -> list[str]:
    """``rows`` is the engine's top-k as (doc_id, score). Equal to the
    reference top-k up to last-decimal rounding: every score matches its
    reference, rows are ordered by score desc then doc_id, the count is
    min(k, |matches|), and no omitted doc outscores the last row."""
    bad = []
    want = min(k, len(ref))
    if len(rows) != want:
        bad.append(f"{len(rows)} rows, expected {want}")
    for d, s in rows:
        if d not in ref or abs(ref[d] - s) > SCORE_TOL:
            bad.append(f"doc {d} score {s} vs reference {ref.get(d)}")
    if [r[0] for r in sorted(rows, key=lambda r: (-r[1], r[0]))] != [r[0] for r in rows]:
        bad.append("rows not ordered by score desc, doc_id")
    if rows and len(rows) == want:
        got = {d for d, _ in rows}
        floor = rows[-1][1]
        missed = [d for d, s in ref.items() if d not in got and s > floor + SCORE_TOL]
        if missed:
            bad.append(f"{len(missed)} better-scoring docs omitted, e.g. {missed[0]}")
    return bad


def check_hits(doc_ids: list[int], matching: set[int], k: int) -> list[str]:
    bad = []
    want = min(k, len(matching))
    if len(doc_ids) != want:
        bad.append(f"{len(doc_ids)} hits, expected {want}")
    if len(set(doc_ids)) != len(doc_ids):
        bad.append("duplicate hits")
    wrong = [d for d in doc_ids if d not in matching]
    if wrong:
        bad.append(f"{len(wrong)} hits do not satisfy the query, e.g. {wrong[0]}")
    return bad


def check_postings(rows: int, sum_tf: int, tokens: list[list[str]]) -> list[str]:
    want_rows = sum(len(set(t)) for t in tokens)
    want_tf = sum(len(t) for t in tokens)
    bad = []
    if rows != want_rows:
        bad.append(f"{rows} posting rows, expected {want_rows}")
    if sum_tf != want_tf:
        bad.append(f"sum(tf) {sum_tf}, expected {want_tf}")
    return bad


def check_stats(n_docs: int, avgdl: float, tokens: list[list[str]]) -> list[str]:
    want_n = len(tokens)
    want_avg = sum(len(t) for t in tokens) / want_n
    bad = []
    if n_docs != want_n:
        bad.append(f"n_docs {n_docs}, expected {want_n}")
    if not math.isclose(avgdl, want_avg, rel_tol=1e-9):
        bad.append(f"avgdl {avgdl}, expected {want_avg}")
    return bad


def _sets_problems(what: str, got: set, want: set) -> list[str]:
    bad = []
    if got - want:
        bad.append(f"{len(got - want)} unexpected {what}, e.g. {min(got - want)}")
    if want - got:
        bad.append(f"{len(want - got)} missing {what}, e.g. {min(want - got)}")
    return bad


def check_alerts(got: list[tuple[int, int]], queries, idx: TextIndex) -> list[str]:
    """Percolator alerts (query_id, doc_id) equal each stored query
    evaluated on the documents' tokens; no duplicates."""
    want = {(qid, d) for qid, q in queries for d in idx.matches(q)}
    bad = ["duplicate alerts"] if len(set(got)) != len(got) else []
    return bad + _sets_problems("alerts", set(got), want)


def _h28(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:7], 16)


def minhash_pairs(doc_ids, texts, perms, prime: int, rows_per_band: int,
                  threshold: float, k: int = 3) -> dict[tuple[int, int], float]:
    """{(doc_a, doc_b): jaccard}: MinHash over distinct k-token shingles,
    LSH candidates sharing a band, kept when the exact shingle Jaccard
    (rounded to 6 dp; 1.0 for identical texts) reaches ``threshold``."""
    sh, bands = {}, {}
    for d, text in zip(doc_ids, texts):
        t = tokenize(text)
        if len(t) < k:
            continue
        sh[d] = {" ".join(t[i : i + k]) for i in range(len(t) - k + 1)}
        hs = [_h28(x) for x in sh[d]]
        sig = [min((a * h + b) % prime for h in hs) for a, b in perms]
        for j in range(0, len(sig), rows_per_band):
            bands.setdefault((j, tuple(sig[j : j + rows_per_band])), []).append(d)
    cand = {(a, b) for ds in bands.values() for a in ds for b in ds if a < b}
    text_of = dict(zip(doc_ids, texts))
    out = {}
    for a, b in cand:
        inter = len(sh[a] & sh[b])
        j = 1.0 if text_of[a] == text_of[b] else round(inter / (len(sh[a]) + len(sh[b]) - inter), 6)
        if j >= threshold:
            out[(a, b)] = j
    return out


def check_pairs(got: list[tuple[int, int, float]], want: dict) -> list[str]:
    keys = [(a, b) for a, b, _ in got]
    bad = ["duplicate pairs"] if len(set(keys)) != len(keys) else []
    bad += _sets_problems("pairs", set(keys), set(want))
    wrong = [(a, b) for a, b, j in got if (a, b) in want and abs(want[(a, b)] - j) > 1e-6]
    if wrong:
        bad.append(f"{len(wrong)} pairs with a wrong jaccard, e.g. {wrong[0]}")
    return bad


def quality_scores(doc_ids, texts, weights, bias: float) -> dict[int, float]:
    """{doc_id: sigmoid(bias + sum_b w_b ln(1 + count_b))}, count_b the
    doc's tokens whose md5-28 hash falls in bucket b, rounded to 6 dp."""
    out = {}
    for d, text in zip(doc_ids, texts):
        counts: dict[int, int] = {}
        for t in tokenize(text):
            b = _h28(t) % len(weights)
            counts[b] = counts.get(b, 0) + 1
        z = bias + sum(weights[b] * math.log1p(c) for b, c in counts.items())
        out[d] = round(1.0 / (1.0 + math.exp(-z)), 6)
    return out


def check_scores(got: dict, want: dict, tol: float) -> list[str]:
    bad = _sets_problems("ids", set(got), set(want))
    wrong = [d for d in got.keys() & want.keys() if abs(got[d] - want[d]) > tol]
    if wrong:
        bad.append(f"{len(wrong)} wrong values, e.g. id {wrong[0]}: {got[wrong[0]]} vs {want[wrong[0]]}")
    return bad


def cosine_ranking(vecs, q) -> list[tuple[int, float]]:
    """[(vec_id, cosine)] of every vector against ``q``, best first."""
    qn = math.sqrt(sum(x * x for x in q))
    cos = []
    for i, v in enumerate(vecs):
        vn = math.sqrt(sum(x * x for x in v))
        cos.append((i, sum(a * b for a, b in zip(v, q)) / (vn * qn)))
    return sorted(cos, key=lambda r: (-r[1], r[0]))


def check_nearest(got: list[tuple[int, float]], ranking, k: int) -> list[str]:
    """Top-k by cosine: ``k`` distinct ids whose cosines match (6 dp) and
    none of which is beaten by an omitted vector."""
    cos = dict(ranking)
    bad = [] if len(got) == k else [f"{len(got)} rows, expected {k}"]
    if len({i for i, _ in got}) != len(got):
        bad.append("duplicate ids")
    wrong = [i for i, c in got if i not in cos or abs(cos[i] - c) > 2e-6]
    if wrong:
        bad.append(f"{len(wrong)} wrong cosines, e.g. id {wrong[0]}")
    if got and not wrong and min(c for _, c in got) < ranking[k - 1][1] - 2e-6:
        bad.append("a nearer vector was omitted")
    return bad


def pagerank(n_nodes: int, edges, iters: int, damping: float) -> dict[int, float]:
    """Power iterations from the uniform vector over weight-normalised edges."""
    w_out: dict[int, float] = {}
    for s, _, w in edges:
        w_out[s] = w_out.get(s, 0) + w
    pr = {v: 1.0 / n_nodes for v in range(n_nodes)}
    for _ in range(iters):
        mass = dict.fromkeys(pr, 0.0)
        for s, d, w in edges:
            mass[d] += pr[s] * w / w_out[s]
        pr = {v: (1.0 - damping) / n_nodes + damping * m for v, m in mass.items()}
    return pr

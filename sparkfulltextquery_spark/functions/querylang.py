"""Boolean full-text query language — the user-facing search surface.

Grammar (tokens are case-insensitive; AND binds tighter than OR; NEAR/k
binds tighter than AND):

    query   := or_expr
    or_expr := and_expr (OR and_expr)*
    and_expr:= unary (AND unary)*
    unary   := NOT unary | proximity
    proximity := atom (NEAR/k atom)?
    atom    := '(' query ')'
             | '"' phrase '"' ('~' slop)? ('^' boost)?   phrase (sloppy/boosted)
             | '"' words last'*' '"'       phrase-prefix ("spark jo*")
             | field ':' '"' phrase '"'        field-scoped phrase
             | field ':' term '*'              field-scoped prefix
             | field ':' term '~' dist         field-scoped fuzzy
             | field ':' '[' lo TO hi ']'      field-scoped vocabulary range
             | field ':' pattern with '*'/'?'  field-scoped general wildcard
             | field ':' term                  field-scoped term
             | '[' lo TO hi ']'                vocabulary range
             | term '~' dist                   fuzzy (edit distance)
             | term '*'                        wildcard prefix
             | pattern with '*' / '?'          general wildcard (infix/suffix/
                                               single-char: s*rk, *ark, sp?rk)
             | '/' pattern '/'                 regexp over the vocabulary
             | term ('^' boost)?               term, optionally boosted

Scoring: plain/field/phrase words contribute document-level BM25 (boosts
scale a term's share); prefix/fuzzy/range expansions are constant-score
(standard multi-term-query behavior — expanded terms carry no idf).

The AST is an orthogonal algebra of seven nodes: Term (scored exact word),
Expand (constant-score prefix/wildcard/fuzzy/regex/range), Phrase (with
slop, boost, field and a trailing prefix), Near, and And/Or/Not; any atom
may carry a field. Every query — inline ``search``, ``search_indexed``,
the simple syntax and the percolator — compiles through ONE function,
``compile_queries``: one scan of a posting relation pruned to the atoms'
concrete terms, one per-doc aggregation of term flags and position arrays,
and the boolean tree as a Column over them (AND/OR/NOT are &, |, ~; no join
per atom). Every ranked search — inline and indexed, full grammar and
simple syntax — then builds through ONE function, ``ranked_search``, which
adds the BM25 sum over the query's scoring terms to that same aggregation;
the callers differ only in the posting relation and corpus stats they pass.

This is the composition layer the reference fork existed to enable
("full-text query within the Spark framework") — tokenize → index → boolean
retrieval → relevance ranking, all as one Catalyst plan.
"""

from __future__ import annotations

import operator
import re
from dataclasses import dataclass
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from sparkfulltextquery_spark.functions.fulltext import (
    BM25_B,
    BM25_K1,
    BM25F_TITLE_LEN,
    _py_tokenize,
    bm25_term_score,
    corpus_stats,
    df_over_term,
    doc_len,
    exact_starts_expr,
    field_pos_pred,
    positional_postings,
    slop_starts_expr,
    top_k,
    with_stats,
)
from sparkfulltextquery_spark.functions.text import tokenize


# ---------------- AST ----------------


@dataclass(frozen=True)
class Term:
    """Scored exact term. A boost (`term^2`, Lucene-style) scales the
    term's BM25 share. A field (`title:spark`) requires the term inside
    the named field; fields are carved positionally from the single text
    column exactly as bm25f_search does (title = first BM25F_TITLE_LEN
    tokens, body = rest), and a field term still scores document-level
    BM25 (the field-weighted composition is bm25f_search)."""

    text: str
    boost: float = 1.0
    field: str | None = None  # "title" | "body"


@dataclass(frozen=True)
class Expand:
    """Constant-score multi-term atom: matches any vocabulary term the
    expansion selects, and contributes no idf (standard multi-term-query
    behavior). ``kind`` and ``arg``:

    - ``prefix``, the prefix (`spar*`; a single trailing `*`);
    - ``wild``, a pattern where `*` matches any run of characters and `?`
      exactly one (`s*rk`, `*ark`, `sp?rk`; alphabet [a-z0-9*?]);
    - ``fuzzy``, ``(term, dist)``: edit distance at most dist (`sparc~1`);
    - ``regex``, a pattern the whole term must match (`/sp.rk/`, Lucene
      RegexpQuery: implicitly anchored, portable subset only);
    - ``range``, ``(lo, hi)``: lo <= term <= hi (`[alpha TO beta]`).

    ``(kind, arg)`` is the key expansion resolution maps to concrete
    vocabulary terms (index_expand). A field scopes the matched positions
    like a field Term's; it never changes which terms the key selects."""

    kind: str
    arg: object
    field: str | None = None

    @property
    def key(self) -> tuple:
        return (self.kind, self.arg)


@dataclass(frozen=True)
class Phrase:
    """Exact phrase, or — with slop > 0 (`"a b"~2`) — an ordered sloppy
    phrase: the words in order with at most ``slop`` extra tokens
    interleaved in total (fulltext.slop_starts_expr semantics). A boost
    (`"a b"^2`) scales the phrase words' BM25 shares like a term boost and
    never affects matching. A field (`title:"a b"`, exact only) requires
    the whole phrase inside the field. A prefix (`"spark jo*"`,
    Elasticsearch match_phrase_prefix) must immediately follow the words:
    any term with that prefix, constant-score like Expand("prefix")."""

    text: str
    slop: int = 0
    boost: float = 1.0
    field: str | None = None
    prefix: str | None = None


@dataclass(frozen=True)
class Near:
    """Proximity atom `a NEAR/k b`: both terms within k token positions
    (unordered). Operands are plain terms; both score in BM25."""

    a: str
    b: str
    k: int


@dataclass(frozen=True)
class Not:
    child: object


@dataclass(frozen=True)
class And:
    children: tuple


@dataclass(frozen=True)
class Or:
    children: tuple


_TOKEN_RE = re.compile(r'/[^/\s]+/|\(|\)|"[^"]*"|[^\s()"]+')

# the portable regexp-atom subset: literals, dot, quantifiers, alternation,
# groups, character classes — NO anchors (Lucene regexps are implicitly
# anchored), NO backslash escapes (escape semantics differ across engines)
_REGEX_ATOM_OK = re.compile(r"^[a-z0-9.*+?|()\[\]\-]+$")


def parse_query(q: str):
    """Parse the boolean grammar into an AST. Raises ValueError on syntax
    errors (unbalanced parens, dangling operators, empty query)."""
    toks = _TOKEN_RE.findall(q)
    pos = 0

    def peek():
        return toks[pos] if pos < len(toks) else None

    def take():
        nonlocal pos
        t = toks[pos]
        pos += 1
        return t

    def parse_or():
        parts = [parse_and()]
        while peek() is not None and peek().upper() == "OR":
            take()
            parts.append(parse_and())
        return parts[0] if len(parts) == 1 else Or(tuple(parts))

    def parse_and():
        # adjacency is implicit AND ("spark join" == "spark AND join")
        parts = [parse_unary()]
        while True:
            t = peek()
            if t is None or t == ")" or t.upper() == "OR":
                break
            if t.upper() == "AND":
                take()
            parts.append(parse_unary())
        return parts[0] if len(parts) == 1 else And(tuple(parts))

    def parse_unary():
        t = peek()
        if t is None:
            raise ValueError("dangling operator in query")
        if t.upper() == "NOT":
            take()
            return Not(parse_unary())
        return parse_proximity()

    def parse_proximity():
        # NEAR/k binds tighter than AND: `a NEAR/3 b AND c` == (a NEAR/3 b) AND c
        left = parse_atom()
        t = peek()
        m = re.fullmatch(r"NEAR/(\d+)", t, re.IGNORECASE) if t else None
        if not m:
            return left
        take()
        right = parse_atom()
        if not (isinstance(left, Term) and isinstance(right, Term)) or (
            left.field or right.field
        ):
            raise ValueError("NEAR/k operands must be plain terms")
        if left.boost != 1.0 or right.boost != 1.0:
            raise ValueError("boost on NEAR operands is not supported")
        return Near(left.text, right.text, int(m.group(1)))

    def parse_atom():
        if peek() is None:
            raise ValueError("dangling operator in query")
        t = take()
        if t == "(":
            node = parse_or()
            if peek() != ")":
                raise ValueError("unbalanced parenthesis")
            take()
            return node
        if t == ")":
            raise ValueError("unexpected ')'")
        def parse_range_bounds(first: str) -> tuple[str, str]:
            # `[alpha TO beta]` — three tokens: '[alpha', 'TO', 'beta]'
            parts = [first]
            while not parts[-1].endswith("]") and len(parts) < 4:
                if peek() is None or peek() in ("(", ")"):
                    raise ValueError("unterminated range atom (expected ']')")
                parts.append(take())
            if len(parts) != 3 or parts[1].upper() != "TO":
                raise ValueError(f"malformed range atom {' '.join(parts)!r}")
            lo_raw, hi_raw = parts[0][1:], parts[2][:-1]
            lo_n, hi_n = _py_tokenize(lo_raw), _py_tokenize(hi_raw)
            if len(lo_n) != 1 or len(hi_n) != 1:
                raise ValueError(
                    f"range bounds must normalize to one term each: {first!r}"
                )
            if lo_n[0] > hi_n[0]:
                raise ValueError(f"empty range: {lo_n[0]!r} > {hi_n[0]!r}")
            return lo_n[0], hi_n[0]

        if t.startswith("["):
            return Expand("range", parse_range_bounds(t))
        if t.startswith("/") and t.endswith("/") and len(t) >= 3:
            pat = t[1:-1].lower()
            if not _REGEX_ATOM_OK.fullmatch(pat):
                raise ValueError(
                    f"regexp atom {t!r} outside the portable subset "
                    "(letters, digits, . * + ? | ( ) [ ] -)"
                )
            # stacked quantifiers: possessive (*+, ++) compile in Java
            # regex but RE2-family engines reject them, and lazy (*?)
            # differs only in group capture we don't expose — both are
            # outside the portable contract. Scan with character classes
            # stripped (ADVICE r06): inside [...] those chars are literals,
            # so /a[+?]/ is portable and must not be rejected. The subset
            # has no backslash escapes, so classes end at the first ']'.
            if re.search(r"[*+?][*+?]", re.sub(r"\[[^\]]*\]", "", pat)):
                raise ValueError(
                    f"stacked quantifiers in regexp atom {t!r} "
                    "(possessive/lazy forms are not portable)"
                )
            try:
                re.compile(pat)
            except re.error as exc:
                raise ValueError(f"invalid regexp atom {t!r}: {exc}") from exc
            return Expand("regex", pat)
        if t.startswith('"'):
            body = t.strip('"')
            if not _py_tokenize(body):
                raise ValueError("empty phrase")
            if body.endswith("*"):
                # `"spark jo*"` — phrase-prefix (r7)
                if "*" in body[:-1] or "?" in body:
                    raise ValueError(
                        f"wildcards inside a phrase are prefix-final-only: {t!r}"
                    )
                words = _py_tokenize(body[:-1])
                if len(words) < 2:
                    raise ValueError(
                        f"phrase-prefix {t!r} needs at least one lead word "
                        "(use a plain prefix atom otherwise)"
                    )
                if peek() and re.fullmatch(
                    r"(?:~\d+)(?:\^\d+(?:\.\d+)?)?|(?:\^\d+(?:\.\d+)?)", peek()
                ):
                    raise ValueError(
                        "slop/boost on a phrase-prefix is not supported"
                    )
                return Phrase(" ".join(words[:-1]), prefix=words[-1])
            if "*" in body or "?" in body:
                # fail loud: a non-final wildcard inside a phrase would
                # otherwise tokenize-strip silently ("sp*rk" -> "sp rk")
                raise ValueError(
                    f"wildcards inside a phrase are prefix-final-only: {t!r}"
                )
            nxt = peek()
            # `"a b"~k` (ordered sloppy phrase), `"a b"^N` (phrase boost),
            # or both combined as one token `~k^N`
            m = (
                re.fullmatch(r"(?:~(\d+))?(?:\^(\d+(?:\.\d+)?))?", nxt)
                if nxt
                else None
            )
            if m and (m.group(1) or m.group(2)):
                take()
                slop = int(m.group(1)) if m.group(1) else 0
                boost = float(m.group(2)) if m.group(2) else 1.0
                if slop and len(_py_tokenize(body)) < 2:
                    raise ValueError("sloppy phrase needs at least two terms")
                return Phrase(body, slop, boost)
            return Phrase(body)
        if t.upper() in ("AND", "OR", "NOT") or re.fullmatch(
            r"NEAR/\d+", t, re.IGNORECASE
        ):
            raise ValueError(f"operator {t!r} in term position")
        boost = 1.0
        m = re.fullmatch(r"(.+?)\^(\d+(?:\.\d+)?)", t)
        if m:
            t, boost = m.group(1), float(m.group(2))
        if "^" in t:
            raise ValueError(f"malformed boost in atom {t!r}^{boost}")
        m = re.fullmatch(r"([A-Za-z]+):", t)
        if m:
            # `title:"a b"` — the quote breaks tokenization, so the field
            # prefix arrives as its own token followed by the phrase token
            field = m.group(1).lower()
            if field not in ("title", "body"):
                raise ValueError(f"unknown field {field!r} (title|body)")
            nxt = peek()
            if nxt is None or not nxt.startswith('"'):
                raise ValueError(f"dangling field prefix {t!r}")
            body = take().strip('"')
            if not _py_tokenize(body):
                raise ValueError("empty field phrase")
            if peek() and re.fullmatch(r"~\d+", peek()):
                raise ValueError("slop inside a field scope is not supported")
            return Phrase(body, field=field)
        m = re.fullmatch(r"([A-Za-z]+):(.+)", t)
        if m:
            field, body = m.group(1).lower(), m.group(2)
            if field not in ("title", "body"):
                raise ValueError(f"unknown field {field!r} (title|body)")
            if boost != 1.0:
                raise ValueError("boost on a field atom is not supported")
            if ":" in body:
                raise ValueError(f"field atom {t!r} must scope a plain term")
            if body.startswith("["):
                # `title:[alpha TO beta]` — field-scoped vocabulary range
                # (r7; ADVICE r06 flagged the silent misparse, now a real atom)
                return Expand("range", parse_range_bounds(body), field)
            if "[" in body or "]" in body:
                # fail loud (ADVICE r06): a stray bracket would otherwise
                # tokenize-strip silently into a plain term
                raise ValueError(f"brackets in field atom {t!r}")
            fm = re.fullmatch(r"(.+)~(\d)", body)
            if fm:
                # `title:sparc~1` — field-scoped fuzzy
                fbody, fdist = fm.group(1), int(fm.group(2))
                if not 1 <= fdist <= 3:
                    raise ValueError(f"fuzzy distance must be 1-3, got {fdist}")
                if "*" in fbody or "~" in fbody:
                    raise ValueError(f"malformed field fuzzy atom {t!r}")
                norm = _py_tokenize(fbody)
                if len(norm) != 1:
                    raise ValueError(
                        f"field fuzzy {t!r} must normalize to one token"
                    )
                return Expand("fuzzy", (norm[0], fdist), field)
            if "~" in body:
                raise ValueError(f"field atom {t!r} must scope a plain term")
            if (
                body.endswith("*")
                and len(body) > 1
                and "*" not in body[:-1]
                and "?" not in body
            ):
                # `title:spar*` — field-scoped wildcard prefix (a single
                # trailing `*` stays the range-scannable prefix form)
                norm = _py_tokenize(body[:-1])
                if len(norm) != 1:
                    raise ValueError(
                        f"field prefix {t!r} must normalize to one token"
                    )
                return Expand("prefix", norm[0], field)
            if "*" in body or "?" in body:
                # `title:sp?rk` / `body:*ark` — field-scoped general wildcard
                pat = body.lower()
                if not re.fullmatch(r"[a-z0-9*?]+", pat):
                    raise ValueError(f"malformed field wildcard atom {t!r}")
                if not re.search(r"[a-z0-9]", pat):
                    raise ValueError(
                        f"field wildcard {t!r} needs at least one literal character"
                    )
                return Expand("wild", re.sub(r"\*{2,}", "*", pat), field)
            norm = _py_tokenize(body)
            if len(norm) != 1:
                raise ValueError(f"field atom {t!r} must normalize to one term")
            return Term(norm[0], field=field)
        m = re.fullmatch(r"(.+)~(\d)", t)
        if m:
            body, dist = m.group(1), int(m.group(2))
            if boost != 1.0:
                raise ValueError("boost on a fuzzy atom is meaningless (unscored)")
            if not 1 <= dist <= 3:
                raise ValueError(f"fuzzy distance must be 1-3, got {dist}")
            if "*" in body or "~" in body:
                raise ValueError(f"malformed fuzzy atom {t!r}")
            norm = _py_tokenize(body)
            if len(norm) != 1:
                raise ValueError(f"fuzzy atom {t!r} must normalize to one term")
            return Expand("fuzzy", (norm[0], dist))
        if "~" in t or ":" in t or "/" in t or "[" in t or "]" in t:
            # brackets fail loud (ADVICE r06): a stray ']' would otherwise
            # tokenize-strip silently into a plain term
            raise ValueError(f"malformed atom {t!r}")
        if t.endswith("*") and len(t) > 1 and "*" not in t[:-1] and "?" not in t:
            # a SINGLE trailing `*` stays the Prefix atom — its StartsWith
            # predicate range-scans a sorted vocabulary, which general
            # wildcards can't
            norm = _py_tokenize(t[:-1])
            if len(norm) != 1:
                raise ValueError(f"prefix {t!r} must normalize to one token")
            if boost != 1.0:
                raise ValueError("boost on a prefix atom is meaningless (unscored)")
            return Expand("prefix", norm[0])
        if "*" in t or "?" in t:
            # general wildcard: leading/infix `*`, single-char `?` (r7)
            pat = t.lower()
            if boost != 1.0:
                raise ValueError(
                    "boost on a wildcard atom is meaningless (unscored)"
                )
            if not re.fullmatch(r"[a-z0-9*?]+", pat):
                raise ValueError(f"malformed wildcard atom {t!r}")
            if not re.search(r"[a-z0-9]", pat):
                raise ValueError(
                    f"wildcard atom {t!r} needs at least one literal character"
                )
            return Expand("wild", re.sub(r"\*{2,}", "*", pat))
        norm = _py_tokenize(t)
        if len(norm) != 1:
            raise ValueError(f"term {t!r} must normalize to one token")
        return Term(norm[0], boost)

    if not toks:
        raise ValueError("empty query")
    node = parse_or()
    if pos != len(toks):
        raise ValueError(f"trailing input: {toks[pos:]}")
    return node


def atoms(node, nots: int = 0):
    """Every atom under ``node`` with the number of NOTs above it, in
    left-to-right order — the one walk every compiler and validator of the
    grammar shares (an atom at an even count has positive polarity)."""
    if isinstance(node, Not):
        yield from atoms(node.child, nots + 1)
    elif isinstance(node, (And, Or)):
        for c in node.children:
            yield from atoms(c, nots)
    else:
        yield node, nots


def atom_terms(atom) -> list[str]:
    """The exact words an atom scores on (none for expansions)."""
    if isinstance(atom, Term):
        return [atom.text]
    if isinstance(atom, Phrase):
        return _py_tokenize(atom.text)
    if isinstance(atom, Near):
        return [atom.a, atom.b]
    return []


def term_boosts(node) -> dict[str, float]:
    """{term: boost} over the scoring terms — the exact words of every atom
    under no NOT; expansions (and a phrase-prefix's prefix) are unscored.
    A term appearing with several boosts takes the max; phrase words carry
    the phrase's boost (`"a b"^2`).

    DOCUMENTED DEVIATION from Lucene (ADVICE r06): boosts max-merge
    ACROSS clauses — in `"spark join"^2 OR spark` the 2x boost applies to
    every doc's 'spark' contribution, including docs matching only the
    bare `spark` clause, whereas Lucene scopes a phrase boost to the
    phrase clause's own matches. Per-document per-clause scoring would
    need a score column per clause; the max-merge keeps ranking monotone
    in the boosted terms and is the documented contract here (the oracles
    mirror it)."""
    if not isinstance(node, (And, Or, Not)):
        # a lone atom keeps its boost as written, even below 1.0
        return {t: getattr(node, "boost", 1.0) for t in atom_terms(node)}
    out: dict[str, float] = {}
    for a, nots in atoms(node):
        if not nots:
            for t in atom_terms(a):
                out[t] = max(out.get(t, 1.0), getattr(a, "boost", 1.0))
    return out


def _eval_empty(node) -> bool:
    """Truth value of the AST for a document containing NO atom at all —
    True means pure-negation semantics need the full doc universe."""
    if isinstance(node, Not):
        return not _eval_empty(node.child)
    if isinstance(node, And):
        return all(_eval_empty(c) for c in node.children)
    if isinstance(node, Or):
        return any(_eval_empty(c) for c in node.children)
    return False


# ---------------- compilation ----------------


class CompiledChunk:
    """Queries compiled to flag expressions over one shared posting scan:
    the scan-term ``union``, the per-doc aggregation columns ``aggs`` (of
    which ``flags`` names the 0/1 term and expansion flags), and one
    boolean match Column per query key in ``match_of``. All are UNBOUND
    Column expressions over a canonical (doc_id, term, positions[, tf])
    posting relation — inline postings, the persisted bucketed index, or
    a micro-batch — so one bundle applies to any such relation.
    ``positions`` is read only by field, phrase and NEAR atoms. Match
    columns read ``flag = 1``: every doc of ``per_doc`` has a scanned row,
    so its flags are never NULL; a doc-universe left join (pure negation,
    ranked_search) fills them with 0 first. ``vocab_dependent`` marks
    bundles whose expansion atoms were resolved against one vocabulary;
    reusing them on another would be wrong."""

    __slots__ = ("union", "aggs", "flags", "match_of", "vocab_dependent")

    def __init__(self, union, aggs, flags, match_of, vocab_dependent):
        self.union = union
        self.aggs = aggs
        self.flags = flags
        self.match_of = match_of
        self.vocab_dependent = vocab_dependent

    def per_doc(self, rel: DataFrame, extra_aggs=(), extra_terms=()) -> DataFrame:
        """One row per doc of ``rel`` with a scanned term: the flag and
        slot aggregates, plus ``extra_aggs`` (e.g. a score) in the same
        aggregation; ``extra_terms`` widen the scan (terms that score but
        gate nothing). The scan filter is an equality ``isin`` on term, so
        it prunes term buckets and passes below a window partitioned by
        term."""
        scan = sorted(set(self.union).union(extra_terms))
        pred = F.col("term").isin(scan) if scan else F.lit(False)
        return rel.filter(pred).groupBy("doc_id").agg(*self.aggs, *extra_aggs)


def compile_queries(asts: dict, expansion: dict) -> CompiledChunk:
    """Compile ``{key: ast}`` to one CompiledChunk: ONE scan of the posting
    relation pruned to every atom's concrete terms, ONE per-doc
    aggregation of flag and position-slot columns shared by every query,
    and each query's boolean tree as a Column over them — no join, no
    per-atom scan. ``expansion`` maps each Expand key (and each
    phrase-prefix's ``("prefix", p)``) to its resolved vocabulary terms
    (index_expand.resolve_expansions_over), so every posting predicate is
    an equality ``isin``.

    Atoms map to aggregates as follows:
    - a term or expansion is a 0/1 flag, max over the doc's rows of
      ``term = t`` (or ``term IN resolved``), AND an EXISTS over the
      row's positions inside the field when field-scoped;
    - phrase, phrase-prefix and NEAR atoms read each word's position
      array (one slot per distinct word) and test starts with array
      expressions, the same shapes as phrase_match_indexed;
    - a phrase-prefix also gathers the positions of every resolved prefix
      term, and a start qualifies when one of them follows the words."""
    names: dict = {}
    aggs: list = []
    flags: set = set()
    terms: set = set()

    def agg(key, make) -> Column:
        if key not in names:
            names[key] = f"_a{len(names)}"
            aggs.append(make().alias(names[key]))
        return F.col(names[key])

    def resolved(key) -> Column:
        ts = expansion.get(key, [])
        terms.update(ts)
        return F.col("term").isin(ts) if ts else F.lit(False)

    def flag(key, cond, field) -> Column:
        if field:
            cond = cond & F.exists(F.col("positions"), field_pos_pred(field))
        col = agg((key, field), lambda: F.max(F.when(cond, 1).otherwise(0)))
        flags.add(names[key, field])
        return col == 1

    def slot(t) -> Column:
        terms.add(t)
        return agg(
            ("slot", t), lambda: F.max(F.when(F.col("term") == t, F.col("positions")))
        )

    def phrase_col(n: Phrase) -> Column:
        words = _py_tokenize(n.text)
        arr = {t: slot(t) for t in words}
        if n.slop:
            starts = slop_starts_expr(arr, words, n.slop)
        else:
            starts = exact_starts_expr(arr, words)
        if n.field == "title":
            last_start = BM25F_TITLE_LEN - len(words)
            starts = F.filter(starts, lambda p: p <= F.lit(last_start))
        elif n.field == "body":
            starts = F.filter(starts, lambda p: p >= F.lit(BM25F_TITLE_LEN))
        if n.prefix is not None:
            pcond = resolved(("prefix", n.prefix))
            tail = agg(
                ("tail", n.prefix),
                lambda: F.flatten(F.collect_list(F.when(pcond, F.col("positions")))),
            )
            starts = F.filter(
                starts,
                lambda p: F.exists(tail, lambda q: q == p + F.lit(len(words))),
            )
        present = reduce(operator.and_, [c.isNotNull() for c in arr.values()])
        return present & (F.size(starts) > 0)

    def as_col(n) -> Column:
        if isinstance(n, Term):
            terms.add(n.text)
            return flag(("term", n.text), F.col("term") == n.text, n.field)
        if isinstance(n, Expand):
            return flag(n.key, resolved(n.key), n.field)
        if isinstance(n, Phrase):
            return phrase_col(n)
        if isinstance(n, Near):
            pa, pb = slot(n.a), slot(n.b)
            pairs = F.filter(
                pa, lambda p: F.exists(pb, lambda q: F.abs(q - p) <= F.lit(n.k))
            )
            return pa.isNotNull() & pb.isNotNull() & (F.size(pairs) > 0)
        if isinstance(n, Not):
            return ~as_col(n.child)
        fold = operator.and_ if isinstance(n, And) else operator.or_
        return reduce(fold, [as_col(c) for c in n.children])

    match_of = {key: as_col(ast) for key, ast in asts.items()}
    return CompiledChunk(
        sorted(terms), aggs, sorted(flags), match_of, vocab_dependent=bool(expansion)
    )


def ranked_search(
    post: DataFrame,
    ast,
    boosts: dict[str, float],
    stats,
    universe,
    k: int,
    expansion: dict | None = None,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """Top-k (doc_id, score) of the docs matching ``ast``, ranked by BM25
    over the scoring terms ``boosts`` ({term: boost}) — the one ranked
    search every caller builds through: inline and indexed query-language
    search and both forms of the simple syntax. Pure-negation queries rank
    by doc_id (score 0.0).

    ``post`` is a posting relation carrying (doc_id, term, tf, dl,
    positions); ``stats`` is ``(n_docs, avgdl)`` as literals (the index's
    cached stats) or a one-row fulltext.corpus_stats relation (inline),
    attached by fulltext.with_stats — the plan's one join; ``universe()``
    returns every doc id, read only for pure negation; ``expansion`` maps
    the query's expansion keys to resolved vocabulary terms
    (compile_queries).

    The plan: df counted in plan over the posting scan (df_over_term) →
    ONE per-doc aggregation computing the query's flags and position
    slots (compile_queries) AND the BM25 sum (fulltext.bm25_term_score)
    over a scan pruned to the atoms' and the scoring terms' buckets — a
    scoring term need not gate the match (the simple syntax's bare terms
    beside a `+` term) → the boolean filter → top-k heap. A pure-negation
    query also matches docs the scan never reaches: it left-joins the
    per-doc rows onto the universe, the one place NULL flags arise, and
    fills them (and the score) with 0."""
    chunk = compile_queries({0: ast}, expansion or {})
    score = F.lit(0.0)
    if boosts:
        post, (n_docs, avgdl, *_) = with_stats(post.select("*", df_over_term().alias("df")), stats)
        _idf, ts = bm25_term_score(n_docs, avgdl, k1=k1, b=b, boosts=boosts)
        score = F.when(F.col("term").isin(sorted(boosts)), ts).otherwise(F.lit(0.0))
    per_doc = chunk.per_doc(post, [F.round(F.sum(score), 4).alias("score")], boosts)
    if _eval_empty(ast):
        per_doc = (
            universe()
            .join(per_doc, "doc_id", "left")
            .fillna(0, subset=[*chunk.flags, "score"])
        )
    return top_k(per_doc.filter(chunk.match_of[0]).select("doc_id", "score"), k)


def _inline_index(docs: DataFrame, id_col: str, text_col: str):
    """(staged, postings, stats) for inline ranked search: the corpus is
    tokenized once and STAGED behind a lazy localCheckpoint barrier (one
    row per doc with its token array), and both the positional postings
    (fulltext.positional_postings over the staged tokens, dl included) and
    the one-row fulltext.corpus_stats derive from it — the stats relation
    the inline scorers join, counting every doc, token-empty and NULL-text
    ones too (dl 0), as the index's stats table does. The barrier keeps
    Catalyst from re-running the tokenize regex once per consumer; it is
    lazy (no job at construction) and rebuilt inside every run."""
    staged = docs.select(
        F.col(id_col).alias("doc_id"), tokenize(F.col(text_col)).alias("_toks")
    ).localCheckpoint(eager=False)
    post = positional_postings(staged, "doc_id", "_toks")
    stats = corpus_stats(staged.select(doc_len("_toks").alias("dl")))
    return staged, post, stats


def search(
    docs: DataFrame,
    query: str,
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_expansions: int | None = None,
) -> DataFrame:
    """Boolean retrieval + BM25 ranking: top-k (doc_id, score) for docs
    satisfying the boolean query, ranked by BM25 over its scoring terms
    (term_boosts). Pure-negation queries rank by doc_id (score 0.0).

    Builds through ranked_search — the same plan as search_indexed — over
    inline positional postings and a one-row stats relation (_inline_index),
    so the plan's only join is the stats join (plus the doc-universe left
    join of a pure-negation query).

    Expansion atoms (prefix/fuzzy/range/regex/wildcard, plain and
    field-scoped, and phrase-prefix tails) resolve to concrete vocabulary
    terms over the corpus-derived distinct-term relation BEFORE
    compilation — one bounded driver-side aggregation at call time, with
    the same fail-loud ``max_expansions`` cap as search_indexed."""
    from sparkfulltextquery_spark.functions.index_expand import (
        MAX_EXPANSIONS,
        collect_expansion_keys,
        resolve_expansions_over,
    )

    ast = parse_query(query)
    staged, post, stats = _inline_index(docs, id_col, text_col)
    keys = collect_expansion_keys(ast)
    expansion = (
        resolve_expansions_over(
            post.select("term").distinct(),
            keys,
            max_expansions if max_expansions is not None else MAX_EXPANSIONS,
        )
        if keys
        else {}
    )
    return ranked_search(
        post, ast, term_boosts(ast), stats, lambda: staged.select("doc_id"), k, expansion
    )


# ---------------- simple query syntax (+must -must_not should) ----------------


def parse_simple_query(q: str) -> tuple[list[str], list[str], list[str]]:
    """Parse the Lucene/Elasticsearch simple_query_string surface:
    `+term` MUST match, `-term` MUST NOT match, bare terms are SHOULD —
    they affect RANKING always, and gate matching only when no `+` term
    exists (Lucene BooleanQuery semantics: with at least one MUST clause,
    SHOULD clauses are optional). Returns (required, optional,
    prohibited) normalized term lists; rejects empty/ambiguous input."""
    req: list[str] = []
    opt: list[str] = []
    proh: list[str] = []
    for raw in q.split():
        bucket, body = (
            (req, raw[1:]) if raw.startswith("+")
            else (proh, raw[1:]) if raw.startswith("-")
            else (opt, raw)
        )
        # interior +/- (e.g. "a+b") tokenizer-split and are rejected by the
        # one-token check below, like any multi-token atom
        norm = _py_tokenize(body)
        if len(norm) != 1:
            raise ValueError(f"simple-query term {raw!r} must normalize to one token")
        bucket.append(norm[0])
    if not req and not opt:
        raise ValueError("simple query needs at least one non-prohibited term")
    overlap = set(req) & set(proh) | set(opt) & set(proh)
    if overlap:
        raise ValueError(f"terms both wanted and prohibited: {sorted(overlap)}")
    return sorted(set(req)), sorted(set(opt)), sorted(set(proh))


def simple_query_ast(query: str):
    """(ast, {term: 1.0}) of a simple-syntax query: the gate is every `+`
    term ANDed (or, with no `+` term, every bare term ORed), ANDed with
    NOT of each `-` term; the scoring terms are the `+` and bare terms
    together — a bare term scores even when a `+` term already gates the
    match (the Lucene MUST/SHOULD split the full boolean grammar can't
    express, since its scoring set is exactly its positive atoms)."""
    req, opt, proh = parse_simple_query(query)
    gate = And(tuple(map(Term, req))) if req else Or(tuple(map(Term, opt)))
    ast = And((gate, *(Not(Term(p)) for p in proh))) if proh else gate
    return ast, dict.fromkeys(sorted({*req, *opt}), 1.0)


def simple_search(
    docs: DataFrame,
    query: str,
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Top-k for the simple query syntax: docs matching ALL `+` terms
    (or, with no `+` term, ANY bare term) and NO `-` term, ranked by BM25
    over the `+` and bare terms together (simple_query_ast). Builds
    through ranked_search over the same inline postings and stats as
    search."""
    ast, boosts = simple_query_ast(query)
    staged, post, stats = _inline_index(docs, id_col, text_col)
    return ranked_search(post, ast, boosts, stats, lambda: staged.select("doc_id"), k)

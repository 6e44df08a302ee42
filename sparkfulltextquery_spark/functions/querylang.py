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

Each atom compiles to a DataFrame of matching doc_ids over the posting
index (term → pruned posting lookup; phrase → positional equi-join); AND/OR/
NOT compose via left-semi join / union-distinct / left-anti — exactly the
rewrites the reference's optimizer applies to INTERSECT/UNION/EXCEPT
(Optimizer.scala:1065/1086). Results are ranked by BM25 over the query's
positive terms.

This is the composition layer the reference fork existed to enable
("full-text query within the Spark framework") — tokenize → index → boolean
retrieval → relevance ranking, all as one Catalyst plan.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sparkfulltextquery_spark.functions.fulltext import (
    _py_tokenize,
    bm25_scores,
    phrase_match,
    postings,
)


# ---------------- AST ----------------


@dataclass(frozen=True)
class Term:
    text: str
    boost: float = 1.0  # Lucene-style `term^2`; scales the term's BM25 share


@dataclass(frozen=True)
class Prefix:
    """Wildcard prefix atom (`spar*`): matches any term with the prefix.
    Unscored (standard full-text behavior: expanded terms don't contribute
    idf), and unprunable by bucketing — the scan filters StartsWith."""

    text: str


@dataclass(frozen=True)
class Wildcard:
    """General wildcard atom (Lucene WildcardQuery): `*` matches any run of
    characters (including empty), `?` exactly one — so `s*rk`, `*ark`, and
    `sp?rk` are all wildcards, while a lone trailing `*` stays the Prefix
    atom (whose StartsWith predicate range-scans a sorted vocabulary;
    leading/infix wildcards cannot). Constant-score like Prefix (expanded
    terms contribute no idf); matching is a LIKE predicate over the
    vocabulary (`*`→`%`, `?`→`_` — no other LIKE metacharacters can occur:
    the pattern alphabet is [a-z0-9*?])."""

    pattern: str

    def like_pattern(self) -> str:
        return self.pattern.replace("*", "%").replace("?", "_")


@dataclass(frozen=True)
class Phrase:
    """Exact phrase, or — with slop > 0 (`"a b"~2`) — an ordered sloppy
    phrase: the words in order with at most ``slop`` extra tokens
    interleaved in total (fulltext.slop_starts_expr semantics). A boost
    (`"a b"^2`, Lucene phrase boost) scales the phrase words' BM25 shares
    like a term boost; it never affects MATCHING, so flag keys stay
    (text, slop)."""

    text: str
    slop: int = 0
    boost: float = 1.0


@dataclass(frozen=True)
class PhrasePrefix:
    """Phrase-prefix atom (`"spark jo*"` — Elasticsearch
    match_phrase_prefix / Lucene MatchPhrasePrefixQuery): the lead words
    consecutively in order, immediately followed by ANY term with the
    final prefix. The lead words score document-level BM25 like Phrase
    words; the prefix expansion is constant-score like the Prefix atom.
    No slop or boost (reject, like field-scoped phrases)."""

    text: str  # the exact lead words, space-joined
    prefix: str  # the final-word prefix


@dataclass(frozen=True)
class Field:
    """Field-scoped atom (`title:spark`): the term must occur inside the
    named field. Fields are carved positionally from the single text
    column exactly as bm25f_search does (title = first BM25F_TITLE_LEN
    tokens, body = rest), so field membership is a position predicate.
    The term still scores document-level BM25 (the field-weighted scoring
    composition is bm25f_search)."""

    field: str  # "title" | "body"
    text: str


@dataclass(frozen=True)
class Fuzzy:
    """Fuzzy atom (`term~2`): matches any vocabulary term within edit
    distance `dist`. Constant-score like Prefix (expanded terms don't
    contribute idf — standard multi-term query behavior), and unprunable
    by bucketing: the scan filters a levenshtein predicate over the
    vocabulary, the same shape as fulltext_fuzzy_vocab."""

    text: str
    dist: int


@dataclass(frozen=True)
class Regex:
    """Regexp atom (`/sp.rk/`, Lucene RegexpQuery): matches any vocabulary
    term the pattern matches ENTIRELY (Lucene regexps are implicitly
    anchored — no ^/$ inside the pattern). Constant-score like Prefix
    (expanded terms contribute no idf); unprunable by hash bucketing — the
    scan filters an RLIKE predicate over the vocabulary, the same shape as
    Fuzzy's levenshtein scan. The pattern is restricted to a portable
    subset (literals, `.`, `*`, `+`, `?`, `|`, groups, char classes) that
    Java regex and RE2-family engines interpret identically."""

    pattern: str

    def anchored(self) -> str:
        return f"^(?:{self.pattern})$"


@dataclass(frozen=True)
class TermRange:
    """Lexicographic vocabulary range atom (`[alpha TO beta]`, Lucene
    range query): matches any term t with lo <= t <= beta, bounds
    inclusive. Constant-score like Prefix (expanded terms contribute no
    idf); unprunable by hash bucketing — the scan filters a range
    predicate over the vocabulary."""

    lo: str
    hi: str


@dataclass(frozen=True)
class FieldPhrase:
    """Field-scoped exact phrase (`title:"a b"`): the phrase must occur
    ENTIRELY inside the named field (same positional title/body carving
    as Field). Exact-only — slop inside a field scope is rejected. The
    phrase words score document-level BM25 like Phrase words."""

    field: str  # "title" | "body"
    text: str


@dataclass(frozen=True)
class FieldPrefix:
    """Field-scoped wildcard prefix (`title:spar*`): any term with the
    prefix occurring inside the positionally-carved field. Constant-score
    like Prefix (multi-term expansion contributes no idf); matching is a
    StartsWith over the vocabulary AND a position predicate — the
    composition of Prefix and Field."""

    field: str  # "title" | "body"
    text: str


@dataclass(frozen=True)
class FieldFuzzy:
    """Field-scoped fuzzy (`title:sparc~1`): any vocabulary term within
    edit distance `dist` occurring inside the positionally-carved field —
    the composition of Fuzzy and Field. Constant-score like Fuzzy."""

    field: str  # "title" | "body"
    text: str
    dist: int


@dataclass(frozen=True)
class FieldRange:
    """Field-scoped lexicographic range (`title:[alpha TO beta]`, r7 — the
    composition of TermRange and Field): any vocabulary term in
    [lo, hi] occurring inside the positionally-carved field.
    Constant-score like TermRange."""

    field: str  # "title" | "body"
    lo: str
    hi: str


@dataclass(frozen=True)
class FieldWildcard:
    """Field-scoped general wildcard (`title:sp?rk`, `body:*ark`, r7 — the
    composition of Wildcard and Field): the LIKE vocabulary predicate AND
    the position carving. A single trailing `*` stays FieldPrefix.
    Constant-score like Wildcard."""

    field: str  # "title" | "body"
    pattern: str

    def like_pattern(self) -> str:
        return self.pattern.replace("*", "%").replace("?", "_")


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
        if not isinstance(left, Term) or not isinstance(right, Term):
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
            return TermRange(*parse_range_bounds(t))
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
            return Regex(pat)
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
                return PhrasePrefix(" ".join(words[:-1]), words[-1])
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
            return FieldPhrase(field, body)
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
                return FieldRange(field, *parse_range_bounds(body))
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
                return FieldFuzzy(field, norm[0], fdist)
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
                return FieldPrefix(field, norm[0])
            if "*" in body or "?" in body:
                # `title:sp?rk` / `body:*ark` — field-scoped general wildcard
                pat = body.lower()
                if not re.fullmatch(r"[a-z0-9*?]+", pat):
                    raise ValueError(f"malformed field wildcard atom {t!r}")
                if not re.search(r"[a-z0-9]", pat):
                    raise ValueError(
                        f"field wildcard {t!r} needs at least one literal character"
                    )
                return FieldWildcard(field, re.sub(r"\*{2,}", "*", pat))
            norm = _py_tokenize(body)
            if len(norm) != 1:
                raise ValueError(f"field atom {t!r} must normalize to one term")
            return Field(field, norm[0])
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
            return Fuzzy(norm[0], dist)
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
            return Prefix(norm[0])
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
            return Wildcard(re.sub(r"\*{2,}", "*", pat))
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


def positive_terms(node) -> list[str]:
    """Terms usable for relevance scoring (everything not under a NOT).
    Prefix atoms are unscored and contribute nothing."""
    if isinstance(node, Term):
        return [node.text]
    if isinstance(node, Field):
        return [node.text]  # field atoms score document-level BM25
    if isinstance(node, FieldPhrase):
        return _py_tokenize(node.text)  # like Phrase words
    if isinstance(node, Phrase):
        return _py_tokenize(node.text)
    if isinstance(node, PhrasePrefix):
        return _py_tokenize(node.text)  # lead words score; prefix doesn't
    if isinstance(node, Near):
        return [node.a, node.b]
    if isinstance(
        node,
        (Not, Prefix, Wildcard, Fuzzy, TermRange, Regex, FieldPrefix,
         FieldFuzzy, FieldRange, FieldWildcard),
    ):
        return []
    return [t for c in node.children for t in positive_terms(c)]


def term_boosts(node) -> dict[str, float]:
    """{term: boost} over the scoring (positive) terms; a term appearing
    with several boosts takes the max. Phrase words carry the phrase's
    boost (`"a b"^2`); field-phrase words score unboosted.

    DOCUMENTED DEVIATION from Lucene (ADVICE r06): boosts max-merge
    ACROSS clauses — in `"spark join"^2 OR spark` the 2x boost applies to
    every doc's 'spark' contribution, including docs matching only the
    bare `spark` clause, whereas Lucene scopes a phrase boost to the
    phrase clause's own matches. Per-document per-clause scoring would
    need a score column per clause; the max-merge keeps ranking monotone
    in the boosted terms and is the documented contract here (the oracles
    mirror it)."""
    if isinstance(node, Term):
        return {node.text: node.boost}
    if isinstance(node, Field):
        return {node.text: 1.0}
    if isinstance(node, FieldPhrase):
        return {t: 1.0 for t in _py_tokenize(node.text)}
    if isinstance(node, Phrase):
        return {t: node.boost for t in _py_tokenize(node.text)}
    if isinstance(node, PhrasePrefix):
        return {t: 1.0 for t in _py_tokenize(node.text)}
    if isinstance(node, Near):
        return {node.a: 1.0, node.b: 1.0}
    if isinstance(
        node,
        (Not, Prefix, Wildcard, Fuzzy, TermRange, Regex, FieldPrefix,
         FieldFuzzy, FieldRange, FieldWildcard),
    ):
        return {}
    out: dict[str, float] = {}
    for c in node.children:
        for t, b in term_boosts(c).items():
            out[t] = max(out.get(t, 1.0), b)
    return out


# ---------------- compilation ----------------


def compile_matches(
    node, post: DataFrame, phrase_fn, universe: DataFrame, near_fn=None,
    field_fn=None, fphrase_fn=None, fprefix_fn=None, ffuzzy_fn=None,
    frange_fn=None, fwild_fn=None, ppfx_fn=None, term_resolver=None,
) -> DataFrame:
    """Compile an AST node to a distinct (doc_id) DataFrame.

    ``post`` is any (term, doc_id, …) posting relation — inline or the
    persisted bucketed table (then term filters become bucket-pruned scans);
    ``phrase_fn(text) -> DataFrame[doc_id]`` supplies phrase matching
    (inline positional join or index-backed); ``field_fn(field, term) ->
    DataFrame[doc_id]`` supplies field-scoped matching (positional);
    ``universe`` is the doc_id domain NOT subtracts from;
    ``term_resolver(node) -> list[str] | None`` (r8, indexed callers)
    pre-resolves a multi-term atom (Prefix/Wildcard/TermRange/Fuzzy/Regex)
    to concrete vocabulary terms via the persisted term dictionary, so the
    posting filter stays an equality ``isin`` (bucket-prunable) instead of
    a LIKE/levenshtein scan; None (the inline default) keeps the predicate
    forms — the inline relation is corpus-derived and has no dictionary."""

    def _multiterm(nd, fallback_pred):
        ts = term_resolver(nd) if term_resolver is not None else None
        if ts is None:
            pred = fallback_pred()
        elif ts:
            pred = F.col("term").isin(ts)
        else:
            pred = F.lit(False)
        return post.filter(pred).select("doc_id").distinct()

    if isinstance(node, Term):
        return post.filter(F.col("term") == node.text).select("doc_id").distinct()
    if isinstance(node, Prefix):
        return _multiterm(node, lambda: F.col("term").startswith(node.text))
    if isinstance(node, Wildcard):
        # vocabulary LIKE scan (`*`→`%`, `?`→`_`) — unprunable, like Prefix
        return _multiterm(node, lambda: F.col("term").like(node.like_pattern()))
    if isinstance(node, TermRange):
        # vocabulary range scan — unprunable by hash bucketing, like Prefix
        return _multiterm(node, lambda: F.col("term").between(node.lo, node.hi))
    if isinstance(node, Fuzzy):
        # vocabulary-wide edit-distance scan (same shape as
        # fulltext_fuzzy_vocab) — unprunable, like Prefix
        return _multiterm(
            node,
            lambda: F.levenshtein(F.col("term"), F.lit(node.text)) <= node.dist,
        )
    if isinstance(node, Regex):
        # vocabulary-wide anchored-regexp scan (Lucene RegexpQuery) —
        # unprunable, like Prefix and Fuzzy
        return _multiterm(node, lambda: F.col("term").rlike(node.anchored()))
    if isinstance(node, Phrase):
        return phrase_fn(node.text, node.slop)
    if isinstance(node, Field):
        if field_fn is None:
            raise ValueError("field atom requires a field_fn")
        return field_fn(node.field, node.text)
    if isinstance(node, FieldPhrase):
        if fphrase_fn is None:
            raise ValueError("field-phrase atom requires a fphrase_fn")
        return fphrase_fn(node.field, node.text)
    if isinstance(node, FieldPrefix):
        if fprefix_fn is None:
            raise ValueError("field-prefix atom requires a fprefix_fn")
        return fprefix_fn(node.field, node.text)
    if isinstance(node, FieldFuzzy):
        if ffuzzy_fn is None:
            raise ValueError("field-fuzzy atom requires a ffuzzy_fn")
        return ffuzzy_fn(node.field, node.text, node.dist)
    if isinstance(node, FieldRange):
        if frange_fn is None:
            raise ValueError("field-range atom requires a frange_fn")
        return frange_fn(node.field, node.lo, node.hi)
    if isinstance(node, FieldWildcard):
        if fwild_fn is None:
            raise ValueError("field-wildcard atom requires a fwild_fn")
        return fwild_fn(node.field, node.pattern)
    if isinstance(node, PhrasePrefix):
        if ppfx_fn is None:
            raise ValueError("phrase-prefix atom requires a ppfx_fn")
        return ppfx_fn(node.text, node.prefix)
    if isinstance(node, Near):
        if near_fn is None:
            raise ValueError("NEAR atom requires a near_fn")
        return near_fn(node.a, node.b, node.k)
    if isinstance(node, And):
        out = compile_matches(
            node.children[0], post, phrase_fn, universe, near_fn, field_fn,
            fphrase_fn, fprefix_fn, ffuzzy_fn, frange_fn, fwild_fn, ppfx_fn,
            term_resolver,
        )
        for c in node.children[1:]:
            out = out.join(
                compile_matches(
                    c, post, phrase_fn, universe, near_fn, field_fn,
                    fphrase_fn, fprefix_fn, ffuzzy_fn, frange_fn, fwild_fn, ppfx_fn,
                    term_resolver,
                ),
                "doc_id",
                "left_semi",
            )
        return out
    if isinstance(node, Or):
        out = compile_matches(
            node.children[0], post, phrase_fn, universe, near_fn, field_fn,
            fphrase_fn, fprefix_fn, ffuzzy_fn, frange_fn, fwild_fn, ppfx_fn,
            term_resolver,
        )
        for c in node.children[1:]:
            out = out.union(
                compile_matches(
                    c, post, phrase_fn, universe, near_fn, field_fn,
                    fphrase_fn, fprefix_fn, ffuzzy_fn, frange_fn, fwild_fn, ppfx_fn,
                    term_resolver,
                )
            )
        return out.distinct()
    if isinstance(node, Not):
        return universe.join(
            compile_matches(
                node.child, post, phrase_fn, universe, near_fn, field_fn,
                fphrase_fn, fprefix_fn, ffuzzy_fn, frange_fn, fwild_fn, ppfx_fn,
                term_resolver,
            ),
            "doc_id",
            "left_anti",
        )
    raise TypeError(f"unknown node {node!r}")


def _collect_atoms(node) -> tuple[set, set, set]:
    """(term texts, phrase texts, prefix texts) appearing anywhere in the
    AST."""
    if isinstance(node, Term):
        return {node.text}, set(), set()
    if isinstance(node, Prefix):
        return set(), set(), {node.text}
    if isinstance(node, Phrase):
        return set(), {(node.text, node.slop)}, set()
    if isinstance(
        node,
        (Near, Field, Fuzzy, TermRange, FieldPhrase, Regex, FieldPrefix,
         FieldFuzzy, Wildcard, FieldRange, FieldWildcard, PhrasePrefix),
    ):
        # collected separately via the per-kind collectors below
        return set(), set(), set()
    if isinstance(node, Not):
        return _collect_atoms(node.child)
    terms: set = set()
    phrases: set = set()
    prefixes: set = set()
    for c in node.children:
        t, p, w = _collect_atoms(c)
        terms |= t
        phrases |= p
        prefixes |= w
    return terms, phrases, prefixes


def _collect_kind(node, cls, key) -> set:
    """Generic AST walk: every atom of type `cls` anywhere in the tree,
    projected through `key`. One traversal serves all per-kind collectors
    below (they differ only in the atom class and key tuple)."""
    if isinstance(node, cls):
        return {key(node)}
    if isinstance(node, Not):
        return _collect_kind(node.child, cls, key)
    out: set = set()
    for c in getattr(node, "children", ()):
        out |= _collect_kind(c, cls, key)
    return out


def collect_nears(node) -> set:
    """All Near atoms (a, b, k) in the AST."""
    return _collect_kind(node, Near, lambda n: (n.a, n.b, n.k))


def collect_fields(node) -> set:
    """All Field atoms (field, term) in the AST."""
    return _collect_kind(node, Field, lambda n: (n.field, n.text))


def collect_ranges(node) -> set:
    """All TermRange atoms (lo, hi) in the AST."""
    return _collect_kind(node, TermRange, lambda n: (n.lo, n.hi))


def collect_fieldphrases(node) -> set:
    """All FieldPhrase atoms (field, text) in the AST."""
    return _collect_kind(node, FieldPhrase, lambda n: (n.field, n.text))


def collect_fuzzies(node) -> set:
    """All Fuzzy atoms (term, dist) in the AST."""
    return _collect_kind(node, Fuzzy, lambda n: (n.text, n.dist))


def collect_regexes(node) -> set:
    """All Regex atom patterns in the AST."""
    return _collect_kind(node, Regex, lambda n: n.pattern)


def collect_fieldprefixes(node) -> set:
    """All FieldPrefix atoms (field, text) in the AST."""
    return _collect_kind(node, FieldPrefix, lambda n: (n.field, n.text))


def collect_fieldfuzzies(node) -> set:
    """All FieldFuzzy atoms (field, text, dist) in the AST."""
    return _collect_kind(node, FieldFuzzy, lambda n: (n.field, n.text, n.dist))


def collect_wildcards(node) -> set:
    """All Wildcard atom patterns in the AST."""
    return _collect_kind(node, Wildcard, lambda n: n.pattern)


def collect_fieldranges(node) -> set:
    """All FieldRange atoms (field, lo, hi) in the AST."""
    return _collect_kind(node, FieldRange, lambda n: (n.field, n.lo, n.hi))


def collect_fieldwildcards(node) -> set:
    """All FieldWildcard atoms (field, pattern) in the AST."""
    return _collect_kind(node, FieldWildcard, lambda n: (n.field, n.pattern))


def collect_phraseprefixes(node) -> set:
    """All PhrasePrefix atoms (lead-words text, prefix) in the AST."""
    return _collect_kind(node, PhrasePrefix, lambda n: (n.text, n.prefix))


def _eval_empty(node) -> bool:
    """Truth value of the AST for a document containing NO atom at all —
    True means pure-negation semantics need the full doc universe."""
    if isinstance(
        node,
        (Term, Phrase, Prefix, Near, Field, Fuzzy, TermRange, FieldPhrase,
         Regex, FieldPrefix, FieldFuzzy, Wildcard, FieldRange, FieldWildcard,
         PhrasePrefix),
    ):
        return False
    if isinstance(node, Not):
        return not _eval_empty(node.child)
    if isinstance(node, And):
        return all(_eval_empty(c) for c in node.children)
    return any(_eval_empty(c) for c in node.children)


def compile_matches_flags(
    node, post: DataFrame, phrase_fn, near_fn=None, field_fn=None,
    fphrase_fn=None, fprefix_fn=None, ffuzzy_fn=None,
    frange_fn=None, fwild_fn=None, ppfx_fn=None, expansion=None,
) -> DataFrame | None:
    """Single-pass compilation: ONE scan of the posting relation pruned to
    every atom term (one bucket-pruned read on the persisted index), a
    per-doc flag aggregation, one join per phrase atom, then the whole
    boolean tree evaluated as a Column expression over the flags — instead
    of compile_matches' one scan + semi/anti/union join per atom. The same
    collapse Catalyst can't do across separate relations but is trivial
    when the compiler emits flags directly.

    ``expansion`` (r9, VERDICT r08 #4): a ``{(kind, arg): [terms]}`` dict
    from ``resolve_expansions_over`` — when supplied, every expansion
    atom's scan predicate and flag condition becomes an equality ``isin``
    over its resolved vocabulary terms (one discipline with indexed
    search and the percolator); when None, the predicate forms
    (StartsWith/levenshtein/BETWEEN/RLIKE/LIKE) are kept for callers
    without a dictionary pass.

    Returns None when the AST is satisfiable by a document containing no
    atom at all (pure negation, e.g. ``NOT x``) — those need the doc
    universe; callers fall back to compile_matches."""
    if _eval_empty(node):
        return None

    def _exp_cond(kind, key, fallback):
        if expansion is None:
            return fallback
        ts = expansion.get((kind, key), [])
        return F.col("term").isin(ts) if ts else F.lit(False)
    terms, phrases, prefixes = _collect_atoms(node)
    nears_l = sorted(collect_nears(node))
    fields_l = sorted(collect_fields(node))
    fuzzies_l = sorted(collect_fuzzies(node))
    ranges_l = sorted(collect_ranges(node))
    regexes_l = sorted(collect_regexes(node))
    wildcards_l = sorted(collect_wildcards(node))
    fphrases_l = sorted(collect_fieldphrases(node))
    fprefixes_l = sorted(collect_fieldprefixes(node))
    ffuzzies_l = sorted(collect_fieldfuzzies(node))
    franges_l = sorted(collect_fieldranges(node))
    fwilds_l = sorted(collect_fieldwildcards(node))
    ppfx_l = sorted(collect_phraseprefixes(node))
    terms_l = sorted(terms)
    phrases_l = sorted(phrases)
    prefixes_l = sorted(prefixes)
    flag = {t: f"_t{i}" for i, t in enumerate(terms_l)}
    flag.update({p: f"_p{i}" for i, p in enumerate(phrases_l)})
    wflag = {w: f"_w{i}" for i, w in enumerate(prefixes_l)}
    nflag = {n: f"_n{i}" for i, n in enumerate(nears_l)}
    gflag = {f: f"_g{i}" for i, f in enumerate(fields_l)}
    zflag = {z: f"_z{i}" for i, z in enumerate(fuzzies_l)}
    rflag = {r: f"_r{i}" for i, r in enumerate(ranges_l)}
    xflag = {x: f"_x{i}" for i, x in enumerate(regexes_l)}
    vflag = {v: f"_v{i}" for i, v in enumerate(wildcards_l)}
    fpflag = {f: f"_fp{i}" for i, f in enumerate(fphrases_l)}
    fpxflag = {f: f"_fx{i}" for i, f in enumerate(fprefixes_l)}
    ffzflag = {f: f"_fz{i}" for i, f in enumerate(ffuzzies_l)}
    frgflag = {f: f"_fr{i}" for i, f in enumerate(franges_l)}
    fwdflag = {f: f"_fw{i}" for i, f in enumerate(fwilds_l)}
    ppxflag = {f: f"_px{i}" for i, f in enumerate(ppfx_l)}

    if terms_l or prefixes_l or fuzzies_l or ranges_l or regexes_l or wildcards_l:
        cond_w = {
            w: _exp_cond("prefix", w, F.col("term").startswith(w))
            for w in prefixes_l
        }
        cond_z = {
            (zt, zd): _exp_cond(
                "fuzzy", (zt, zd), F.levenshtein(F.col("term"), F.lit(zt)) <= zd
            )
            for zt, zd in fuzzies_l
        }
        cond_r = {
            (lo, hi): _exp_cond("range", (lo, hi), F.col("term").between(lo, hi))
            for lo, hi in ranges_l
        }
        cond_x = {
            pat: _exp_cond(
                "regex", pat, F.col("term").rlike(Regex(pat).anchored())
            )
            for pat in regexes_l
        }
        cond_v = {
            pat: _exp_cond(
                "wild", pat, F.col("term").like(Wildcard(pat).like_pattern())
            )
            for pat in wildcards_l
        }
        pred = F.col("term").isin(terms_l) if terms_l else F.lit(False)
        for c in (*cond_w.values(), *cond_z.values(), *cond_r.values(),
                  *cond_x.values(), *cond_v.values()):
            pred = pred | c
        flags = (
            post.filter(pred)
            .groupBy("doc_id")
            .agg(
                *[
                    F.max(F.when(F.col("term") == t, 1).otherwise(0)).alias(flag[t])
                    for t in terms_l
                ],
                *[
                    F.max(F.when(cond_w[w], 1).otherwise(0)).alias(wflag[w])
                    for w in prefixes_l
                ],
                *[
                    F.max(F.when(cond_z[z], 1).otherwise(0)).alias(zflag[z])
                    for z in fuzzies_l
                ],
                *[
                    F.max(F.when(cond_r[r], 1).otherwise(0)).alias(rflag[r])
                    for r in ranges_l
                ],
                *[
                    F.max(F.when(cond_x[pat], 1).otherwise(0)).alias(xflag[pat])
                    for pat in regexes_l
                ],
                *[
                    F.max(F.when(cond_v[pat], 1).otherwise(0)).alias(vflag[pat])
                    for pat in wildcards_l
                ],
            )
        )
    else:
        flags = None
    for p in phrases_l:
        pdf = (
            phrase_fn(*p).select("doc_id").distinct().withColumn(flag[p], F.lit(1))
        )
        flags = pdf if flags is None else flags.join(pdf, "doc_id", "full_outer")
    for n in nears_l:
        if near_fn is None:
            raise ValueError("NEAR atom requires a near_fn")
        ndf = (
            near_fn(*n).select("doc_id").distinct().withColumn(nflag[n], F.lit(1))
        )
        flags = ndf if flags is None else flags.join(ndf, "doc_id", "full_outer")
    for fld in fields_l:
        if field_fn is None:
            raise ValueError("field atom requires a field_fn")
        fdf = (
            field_fn(*fld).select("doc_id").distinct().withColumn(gflag[fld], F.lit(1))
        )
        flags = fdf if flags is None else flags.join(fdf, "doc_id", "full_outer")
    for fp in fphrases_l:
        if fphrase_fn is None:
            raise ValueError("field-phrase atom requires a fphrase_fn")
        fdf = (
            fphrase_fn(*fp)
            .select("doc_id")
            .distinct()
            .withColumn(fpflag[fp], F.lit(1))
        )
        flags = fdf if flags is None else flags.join(fdf, "doc_id", "full_outer")
    for fx in fprefixes_l:
        if fprefix_fn is None:
            raise ValueError("field-prefix atom requires a fprefix_fn")
        fdf = (
            fprefix_fn(*fx)
            .select("doc_id")
            .distinct()
            .withColumn(fpxflag[fx], F.lit(1))
        )
        flags = fdf if flags is None else flags.join(fdf, "doc_id", "full_outer")
    for fz in ffuzzies_l:
        if ffuzzy_fn is None:
            raise ValueError("field-fuzzy atom requires a ffuzzy_fn")
        fdf = (
            ffuzzy_fn(*fz)
            .select("doc_id")
            .distinct()
            .withColumn(ffzflag[fz], F.lit(1))
        )
        flags = fdf if flags is None else flags.join(fdf, "doc_id", "full_outer")
    for fr in franges_l:
        if frange_fn is None:
            raise ValueError("field-range atom requires a frange_fn")
        fdf = (
            frange_fn(*fr)
            .select("doc_id")
            .distinct()
            .withColumn(frgflag[fr], F.lit(1))
        )
        flags = fdf if flags is None else flags.join(fdf, "doc_id", "full_outer")
    for fw in fwilds_l:
        if fwild_fn is None:
            raise ValueError("field-wildcard atom requires a fwild_fn")
        fdf = (
            fwild_fn(*fw)
            .select("doc_id")
            .distinct()
            .withColumn(fwdflag[fw], F.lit(1))
        )
        flags = fdf if flags is None else flags.join(fdf, "doc_id", "full_outer")
    for pp in ppfx_l:
        if ppfx_fn is None:
            raise ValueError("phrase-prefix atom requires a ppfx_fn")
        fdf = (
            ppfx_fn(*pp)
            .select("doc_id")
            .distinct()
            .withColumn(ppxflag[pp], F.lit(1))
        )
        flags = fdf if flags is None else flags.join(fdf, "doc_id", "full_outer")
    assert flags is not None  # no-atom ASTs were rejected by _eval_empty

    def as_col(n):
        if isinstance(n, Term):
            return F.coalesce(F.col(flag[n.text]), F.lit(0)) == 1
        if isinstance(n, Prefix):
            return F.coalesce(F.col(wflag[n.text]), F.lit(0)) == 1
        if isinstance(n, Fuzzy):
            return F.coalesce(F.col(zflag[(n.text, n.dist)]), F.lit(0)) == 1
        if isinstance(n, TermRange):
            return F.coalesce(F.col(rflag[(n.lo, n.hi)]), F.lit(0)) == 1
        if isinstance(n, Regex):
            return F.coalesce(F.col(xflag[n.pattern]), F.lit(0)) == 1
        if isinstance(n, Wildcard):
            return F.coalesce(F.col(vflag[n.pattern]), F.lit(0)) == 1
        if isinstance(n, Field):
            return F.coalesce(F.col(gflag[(n.field, n.text)]), F.lit(0)) == 1
        if isinstance(n, FieldPhrase):
            return F.coalesce(F.col(fpflag[(n.field, n.text)]), F.lit(0)) == 1
        if isinstance(n, FieldPrefix):
            return F.coalesce(F.col(fpxflag[(n.field, n.text)]), F.lit(0)) == 1
        if isinstance(n, FieldFuzzy):
            return (
                F.coalesce(F.col(ffzflag[(n.field, n.text, n.dist)]), F.lit(0))
                == 1
            )
        if isinstance(n, FieldRange):
            return F.coalesce(F.col(frgflag[(n.field, n.lo, n.hi)]), F.lit(0)) == 1
        if isinstance(n, FieldWildcard):
            return F.coalesce(F.col(fwdflag[(n.field, n.pattern)]), F.lit(0)) == 1
        if isinstance(n, PhrasePrefix):
            return F.coalesce(F.col(ppxflag[(n.text, n.prefix)]), F.lit(0)) == 1
        if isinstance(n, Near):
            return F.coalesce(F.col(nflag[(n.a, n.b, n.k)]), F.lit(0)) == 1
        if isinstance(n, Phrase):
            return F.coalesce(F.col(flag[(n.text, n.slop)]), F.lit(0)) == 1
        if isinstance(n, Not):
            return ~as_col(n.child)
        if isinstance(n, And):
            out = as_col(n.children[0])
            for c in n.children[1:]:
                out = out & as_col(c)
            return out
        out = as_col(n.children[0])
        for c in n.children[1:]:
            out = out | as_col(c)
        return out

    return flags.filter(as_col(node)).select("doc_id")


def search(
    docs: DataFrame,
    query: str,
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_expansions: int | None = None,
) -> DataFrame:
    """Boolean retrieval + BM25 ranking: top-k (doc_id, score) for docs
    satisfying the boolean query, ranked by BM25 over its positive terms.
    Pure-negation queries rank by doc_id (score 0.0).

    Expansion atoms (prefix/fuzzy/range/regex/wildcard, plain and
    field-scoped, and phrase-prefix tails) resolve to concrete vocabulary
    terms BEFORE compilation (r9, VERDICT r08 #4 — the same bounded
    one-aggregation dictionary protocol as indexed search, here over the
    corpus-derived distinct-term relation), so every posting filter in
    the compiled plan is an equality ``isin`` and the fail-loud
    ``max_expansions`` cap holds inline too. ONE resolution discipline
    across inline, indexed, and percolator paths. A query with expansion
    atoms therefore runs one bounded driver-side aggregation at call
    time, exactly like search_indexed."""
    from sparkfulltextquery_spark.functions.index_expand import (
        MAX_EXPANSIONS,
        collect_expansion_keys,
        expansion_key,
        expansion_pred,
        resolve_expansions_over,
    )

    ast = parse_query(query)

    def _exp_isin(kind, key):
        # late-bound: `expansion` is resolved below, before any closure
        # using this helper is invoked by the compiler
        ts = expansion.get((kind, key), [])
        return F.col("term").isin(ts) if ts else F.lit(False)

    def _needs_positions(node) -> bool:
        if isinstance(
            node,
            (Phrase, Near, Field, FieldPhrase, FieldPrefix, FieldFuzzy,
             FieldRange, FieldWildcard, PhrasePrefix),
        ):
            return True  # all of these need the positional relation
        return any(_needs_positions(c) for c in getattr(node, "children", ())) or (
            isinstance(node, Not) and _needs_positions(node.child)
        )

    if _needs_positions(ast):
        # one corpus tokenization feeds BOTH the posting table (groupBy)
        # and every phrase/near/field atom's positional lookups
        from sparkfulltextquery_spark.functions.fulltext import (
            field_pos_pred,
            proximity_match,
        )

        from sparkfulltextquery_spark.functions.fulltext import sloppy_phrase_match
        from sparkfulltextquery_spark.functions.text import tokenize

        # r13 (VERDICT r12 #7): the tokenized corpus is STAGED once behind a
        # lazy localCheckpoint barrier — the flags aggregation, every
        # phrase/near/field atom's positional lookup, and the BM25 scoring
        # relations (qpost, dl) are all separate consumers that Catalyst
        # would otherwise inline as 10+ independent parquet scans, each
        # re-running the tokenize regex per row (the measured wall of the
        # inline row). One row per doc with its token array crosses the
        # barrier; per-consumer term filters apply above it. Lazy: no job
        # at construction, rebuilt inside every timed run (the BPE/
        # pagerank/semdedup discipline). The indexed path is unaffected.
        toks_staged = docs.select(
            F.col(id_col).alias("doc_id"), tokenize(F.col(text_col)).alias("_toks")
        ).localCheckpoint(eager=False)
        pos_rel = toks_staged.select(
            "doc_id", F.posexplode("_toks").alias("pos", "term")
        )
        post = pos_rel.groupBy("term", "doc_id").agg(F.count(F.lit(1)).alias("tf"))

        def phrase_fn(text, slop=0):
            if slop:
                return sloppy_phrase_match(
                    docs, text, slop, id_col, text_col, pos=pos_rel
                ).select("doc_id")
            return phrase_match(docs, text, id_col, text_col, pos=pos_rel).select(
                "doc_id"
            )
        near_fn = lambda a, b, k: proximity_match(  # noqa: E731
            docs, a, b, k, id_col, text_col, pos=pos_rel
        ).select("doc_id")

        def fphrase_fn(field: str, text: str) -> DataFrame:
            from sparkfulltextquery_spark.functions.fulltext import (
                field_phrase_match,
            )

            return field_phrase_match(
                docs, field, text, id_col, text_col, pos=pos_rel
            ).select("doc_id")

        def field_fn(field: str, term: str) -> DataFrame:
            # title = first BM25F_TITLE_LEN tokens (0-based positions),
            # exactly bm25f_search's field carving
            in_field = field_pos_pred(field)(F.col("pos"))
            return (
                pos_rel.filter((F.col("term") == term) & in_field)
                .select("doc_id")
                .distinct()
            )

        def fprefix_fn(field: str, prefix: str) -> DataFrame:
            # Prefix ∘ Field: the prefix's RESOLVED vocabulary terms
            # (equality isin) AND the same positional carving
            in_field = field_pos_pred(field)(F.col("pos"))
            return (
                pos_rel.filter(_exp_isin("prefix", prefix) & in_field)
                .select("doc_id")
                .distinct()
            )

        def ffuzzy_fn(field: str, text: str, dist: int) -> DataFrame:
            # Fuzzy ∘ Field: resolved terms AND the carving
            in_field = field_pos_pred(field)(F.col("pos"))
            return (
                pos_rel.filter(_exp_isin("fuzzy", (text, dist)) & in_field)
                .select("doc_id")
                .distinct()
            )

        def frange_fn(field: str, lo: str, hi: str) -> DataFrame:
            # TermRange ∘ Field: resolved terms AND the carving
            in_field = field_pos_pred(field)(F.col("pos"))
            return (
                pos_rel.filter(_exp_isin("range", (lo, hi)) & in_field)
                .select("doc_id")
                .distinct()
            )

        def fwild_fn(field: str, pattern: str) -> DataFrame:
            # Wildcard ∘ Field: resolved terms AND the carving
            in_field = field_pos_pred(field)(F.col("pos"))
            return (
                pos_rel.filter(_exp_isin("wild", pattern) & in_field)
                .select("doc_id")
                .distinct()
            )

        def ppfx_fn(text: str, prefix: str) -> DataFrame:
            from sparkfulltextquery_spark.functions.fulltext import (
                phrase_prefix_match,
            )

            return phrase_prefix_match(
                docs, _py_tokenize(text), prefix, id_col, text_col,
                pos=pos_rel,
                prefix_terms=expansion.get(("prefix", prefix), []),
            )
    else:
        post = postings(docs, id_col, text_col)
        phrase_fn = lambda text, slop=0: phrase_match(  # noqa: E731
            docs, text, id_col, text_col
        ).select("doc_id")
        near_fn = None  # no Near atoms on this branch by construction
        field_fn = None  # no Field atoms on this branch by construction
        fphrase_fn = None  # no FieldPhrase atoms on this branch either
        fprefix_fn = None  # no FieldPrefix atoms on this branch either
        ffuzzy_fn = None  # no FieldFuzzy atoms on this branch either
        frange_fn = None  # no FieldRange atoms on this branch either
        fwild_fn = None  # no FieldWildcard atoms on this branch either
        ppfx_fn = None  # no PhrasePrefix atoms on this branch either

    # resolve every expansion atom against the corpus vocabulary ONCE —
    # the closures above and the flag compiler below consume the resolved
    # equality term lists; no LIKE/levenshtein/RLIKE/StartsWith ever
    # reaches the posting or positional relation
    exp_keys = collect_expansion_keys(ast)
    expansion = (
        resolve_expansions_over(
            post.select("term").distinct(),
            [(key, expansion_pred(key)) for key in sorted(exp_keys)],
            max_expansions if max_expansions is not None else MAX_EXPANSIONS,
        )
        if exp_keys
        else {}
    )

    def term_resolver(node):
        key = expansion_key(node)
        return None if key is None else expansion.get(key, [])

    matched = compile_matches_flags(
        ast, post, phrase_fn=phrase_fn, near_fn=near_fn, field_fn=field_fn,
        fphrase_fn=fphrase_fn, fprefix_fn=fprefix_fn, ffuzzy_fn=ffuzzy_fn,
        frange_fn=frange_fn, fwild_fn=fwild_fn, ppfx_fn=ppfx_fn,
        expansion=expansion or None,
    )
    if matched is None:  # pure negation needs the doc universe
        matched = compile_matches(
            ast,
            post,
            phrase_fn=phrase_fn,
            universe=docs.select(F.col(id_col).alias("doc_id")),
            near_fn=near_fn,
            field_fn=field_fn,
            fphrase_fn=fphrase_fn,
            fprefix_fn=fprefix_fn,
            ffuzzy_fn=ffuzzy_fn,
            frange_fn=frange_fn,
            fwild_fn=fwild_fn,
            ppfx_fn=ppfx_fn,
            term_resolver=term_resolver if expansion else None,
        )
    pos = sorted(set(positive_terms(ast)))
    if not pos:
        return (
            matched.select("doc_id", F.lit(0.0).alias("score"))
            .orderBy("doc_id")
            .limit(k)
        )
    # rank every matching doc: scores come from the positive terms, docs
    # matching only via OR-branches without those terms score 0; `term^N`
    # boosts scale each term's BM25 contribution
    scored = bm25_scores(
        docs,
        " ".join(pos),
        id_col=id_col,
        text_col=text_col,
        post=post,
        boosts=term_boosts(ast),
    )
    return (
        matched.join(scored, "doc_id", "left")
        .select("doc_id", F.coalesce(F.col("score"), F.lit(0.0)).alias("score"))
        .orderBy(F.col("score").desc(), F.col("doc_id"))
        .limit(k)
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


def simple_search(
    docs: DataFrame,
    query: str,
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Top-k for the simple query syntax: docs matching ALL `+` terms
    (or, with no `+` term, ANY bare term) and NO `-` term, ranked by BM25
    over the `+` and bare terms together — bare terms contribute to the
    score even when a `+` term already gates the match (the Lucene
    MUST/SHOULD split the full boolean grammar can't express, since its
    scoring set is exactly its positive atoms)."""
    req, opt, proh = parse_simple_query(query)
    post = postings(docs, id_col, text_col)
    if req:
        gate = And(tuple(Term(t) for t in req))
    else:
        gate = Or(tuple(Term(t) for t in opt))
    ast = (
        And((gate,) + tuple(Not(Term(p)) for p in proh)) if proh else gate
    )
    matched = compile_matches_flags(ast, post, phrase_fn=None)
    score_terms = sorted(set(req) | set(opt))
    scored = bm25_scores(docs, " ".join(score_terms), id_col, text_col, post=post)
    return (
        matched.join(scored, "doc_id", "left")
        .select("doc_id", F.coalesce(F.col("score"), F.lit(0.0)).alias("score"))
        .orderBy(F.col("score").desc(), F.col("doc_id"))
        .limit(k)
    )

"""Expansion-atom resolution against the term dictionary (r8 split of
functions/index.py for file-size hygiene; no behavior change).

Prefix / fuzzy / range / regexp / wildcard atoms rewrite to concrete
vocabulary-term disjunctions BEFORE the inverted index is consulted —
the Lucene MultiTermQuery discipline — via one bounded aggregation over
the doc-frequency table (or any term-column relation).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


#: Lucene BooleanQuery.maxClauseCount analogue: the most vocabulary terms
#: a single expansion atom (prefix/fuzzy/range/regex/wildcard) may resolve
#: to before the query is rejected — fail-loud, never a silent truncation
#: (a truncated expansion would silently drop matching documents).
MAX_EXPANSIONS = 1024


def resolve_expansions(
    spark: SparkSession,
    table_prefix: str,
    *,
    prefixes=(),
    fuzzies=(),
    ranges=(),
    regexes=(),
    wildcards=(),
    max_expansions: int = MAX_EXPANSIONS,
) -> dict:
    """Resolve expansion atoms against the persisted TERM DICTIONARY.

    Every real engine rewrites multi-term queries (prefix, fuzzy, range,
    regexp, wildcard) to a disjunction of concrete vocabulary terms BEFORE
    consulting the inverted index (Lucene MultiTermQuery walks the term
    dictionary, then reads only the matched terms' postings). Until r7
    this engine instead OR'd the expansion predicate (StartsWith /
    levenshtein / BETWEEN / RLIKE / LIKE) straight onto the postings
    relation — which both defeated bucket pruning (the scan filter was no
    longer an equality ``isin``) and evaluated the expensive predicate
    once per POSTING row, O(total postings). At 100 TB a single ``*ark``
    query forced a full posting scan with a per-row LIKE (VERDICT r07 #1).

    This resolver evaluates each atom's predicate over the doc-frequency
    table instead — one row per distinct term, O(|vocab|), orders of
    magnitude smaller than the postings — in ONE bounded aggregation that
    yields, per atom, its match count and at most ``max_expansions + 1``
    of its matched terms. An atom matching more than ``max_expansions``
    terms fails the query loudly; the slice bounds driver transfer to
    n_atoms × (max_expansions + 1) terms by construction, never by luck.

    The caller folds the concrete terms into its equality ``isin``,
    restoring bucket pruning and an equality-only posting scan. Field
    scoping never affects term-level matching (the field carve applies to
    stored POSITIONS at flag time), so field-scoped atoms share their
    plain atom's resolution.

    Returns ``{('prefix', w) | ('fuzzy', (t, d)) | ('range', (lo, hi)) |
    ('regex', pat) | ('wild', pat): sorted list of vocabulary terms}``;
    empty dict when no expansion atoms were passed (zero extra jobs on
    the common exact-terms path)."""
    from sparkfulltextquery_spark.functions import querylang as QL

    atoms: list = []
    for w in sorted(set(prefixes)):
        atoms.append((("prefix", w), F.col("term").startswith(w)))
    for zt, zd in sorted(set(fuzzies)):
        atoms.append(
            (("fuzzy", (zt, zd)), F.levenshtein(F.col("term"), F.lit(zt)) <= zd)
        )
    for lo, hi in sorted(set(ranges)):
        atoms.append((("range", (lo, hi)), F.col("term").between(lo, hi)))
    for pat in sorted(set(regexes)):
        atoms.append((("regex", pat), F.col("term").rlike(QL.Regex(pat).anchored())))
    for pat in sorted(set(wildcards)):
        atoms.append(
            (("wild", pat), F.col("term").like(QL.Wildcard(pat).like_pattern()))
        )
    if not atoms:
        return {}
    vocab = spark.table(f"{table_prefix}_df").select("term")
    return resolve_expansions_over(vocab, atoms, max_expansions)


def expansion_key(node):
    """(kind, arg) resolution key for a plain expansion atom AST node, or
    None for any other node kind — the shared key vocabulary between the
    resolver, the indexed search compiler, the inline search compiler,
    and the percolator (r9 unification: ONE discipline). Field-scoped
    atoms share their plain atom's key: the field carve applies to stored
    POSITIONS at flag time, never to term-level matching."""
    from sparkfulltextquery_spark.functions import querylang as QL

    if isinstance(node, QL.Prefix):
        return ("prefix", node.text)
    if isinstance(node, QL.Fuzzy):
        return ("fuzzy", (node.text, node.dist))
    if isinstance(node, QL.TermRange):
        return ("range", (node.lo, node.hi))
    if isinstance(node, QL.Regex):
        return ("regex", node.pattern)
    if isinstance(node, QL.Wildcard):
        return ("wild", node.pattern)
    return None


def expansion_pred(key):
    """Vocabulary predicate for an expansion-atom key — only ever applied
    to a term-dictionary relation (O(|vocab|) rows), never to postings."""
    from sparkfulltextquery_spark.functions import querylang as QL

    kind, arg = key
    if kind == "prefix":
        return F.col("term").startswith(arg)
    if kind == "fuzzy":
        zt, zd = arg
        return F.levenshtein(F.col("term"), F.lit(zt)) <= zd
    if kind == "range":
        lo, hi = arg
        return F.col("term").between(lo, hi)
    if kind == "regex":
        return F.col("term").rlike(QL.Regex(arg).anchored())
    return F.col("term").like(QL.Wildcard(arg).like_pattern())


def collect_expansion_keys(ast) -> set:
    """Every expansion-resolution key an AST needs: plain atoms via
    expansion_key, field-scoped atoms folded onto their plain atom's key,
    and phrase-prefix final-word prefixes as prefix keys."""
    from sparkfulltextquery_spark.functions import querylang as QL

    keys: set = set()

    def walk(n):
        k = expansion_key(n)
        if k is not None:
            keys.add(k)
        elif isinstance(n, QL.FieldPrefix):
            keys.add(("prefix", n.text))
        elif isinstance(n, QL.FieldFuzzy):
            keys.add(("fuzzy", (n.text, n.dist)))
        elif isinstance(n, QL.FieldRange):
            keys.add(("range", (n.lo, n.hi)))
        elif isinstance(n, QL.FieldWildcard):
            keys.add(("wild", n.pattern))
        elif isinstance(n, QL.PhrasePrefix):
            keys.add(("prefix", n.prefix))
        elif isinstance(n, QL.Not):
            walk(n.child)
        for c in getattr(n, "children", ()):
            walk(c)

    walk(ast)
    return keys


def resolve_expansions_over(
    vocab: DataFrame, atoms: list, max_expansions: int = MAX_EXPANSIONS
) -> dict:
    """The resolver core over ANY (term)-column vocabulary relation —
    the persisted df table on the indexed path, or a corpus-derived
    ``postings.select('term').distinct()`` on the inline path (the inline
    caller pays one corpus-derived pass it was already paying as a
    predicate scan; the win is the same bounded concrete-term list).
    ``atoms`` is [(key, predicate Column)]. Same bounded aggregation and
    fail-loud cap as resolve_expansions."""
    # ONE aggregation: per atom, its match count and at most
    # max_expansions + 1 of its matched terms — enough to fail loudly on an
    # over-cap atom, and a bound on what reaches the driver either way
    row = vocab.agg(
        *[
            c
            for i, (_k, pred) in enumerate(atoms)
            for c in (
                F.sum(F.when(pred, 1)).alias(f"_c{i}"),
                F.slice(
                    F.collect_list(F.when(pred, F.col("term"))),
                    1,
                    max_expansions + 1,
                ).alias(f"_m{i}"),
            )
        ]
    ).head()
    out: dict = {}
    for i, (key, _pred) in enumerate(atoms):
        n = row[f"_c{i}"] or 0
        if n > max_expansions:
            raise ValueError(
                f"expansion atom {key!r} matches {n} vocabulary terms, "
                f"over max_expansions={max_expansions} — narrow the "
                f"pattern or raise the cap explicitly"
            )
        out[key] = sorted(row[f"_m{i}"])
    return out

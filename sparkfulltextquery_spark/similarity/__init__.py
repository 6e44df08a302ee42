"""Similarity search over embedding columns (`array<float>`).

Reference analogue: Word2Vec.findSynonyms (mllib/.../ml/feature/
Word2Vec.scala:205) — cosine top-k against a model's vectors. Here the
general form: embeddings are plain array columns (no UDT — SURVEY.md §1.2),
and search is expressed three ways:

- brute-force cosine top-k  : exact baseline; dot products via JVM-side
  higher-order functions (zip_with + aggregate), top-k via orderBy+limit
  (TakeOrderedAndProject per-partition heaps — no global sort)
- IVF (inverted file)       : coarse quantization by cluster (here the
  `label` column = cluster id, in general K-means centroids); query probes
  the top-P nearest centroids and brute-forces only those partitions —
  the 100 TB path (partition pruning on the cluster column)
- random-hyperplane LSH     : deterministic ±1 projections from the portable
  hash; sign pattern = bucket key; near-dup blocking without n² pairs

One-off scoring stays in JVM expressions (a single unrolled dot against a
literal query vector IS whole-stage-codegen'd); the n·k Lloyd assignment
hot loop is the exception — every JVM spelling of "k dim-length distance
sums per row" measured slower than a vectorized Arrow argmin (the fold is
CodegenFallback, the unrolled tree blows codegen's method limits at k·dim
scale) — see _argmin_np_udf for the measured A/B.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def _infer_dim(embeddings: DataFrame, vec_col: str) -> int:
    """Embedding dimensionality from the first row — one bounded Spark job.
    Raises (instead of TypeError on None) when the DataFrame is empty."""
    row = embeddings.select(vec_col).head()
    if row is None or row[0] is None:
        raise ValueError(
            f"cannot infer embedding dimension: '{vec_col}' has no non-null rows"
        )
    return len(row[0])


# --------------------------------------------------------------------------
# Vector expression builders.
#
# Two forms, same IEEE-754 result bit-for-bit:
#
# - HOF fold (`F.aggregate`/`F.zip_with` lambdas): compact plan, but
#   HigherOrderFunction is CodegenFallback — interpreted per element with a
#   per-element allocation. Fine for one-off scoring; the hot-loop tax on
#   n·k assignment / n² pair shapes measured ~2–7×.
# - Statically-unrolled SQL text (`*_sql` builders below, parsed by ONE
#   `F.expr` call): an ordinary Add tree inside whole-stage codegen.
#   Bit-identical to the fold — both associate strictly left and IEEE
#   0.0+x == x — asserted in tests. One sign corner: the fold seeds
#   acc=0.0 so an all-(-0.0) input folds to +0.0, while the unrolled tree
#   starts from the first term and would keep -0.0; unreachable for the
#   sum-of-squares shapes used here ((-0.0)² = +0.0) and harmless for
#   dot products (−0.0 == 0.0 under every comparison we emit), noted for
#   anyone adding a builder where the distinction could surface.
#   The text form matters: building the
#   same tree out of Python `Column` arithmetic costs O(dim) Py4J
#   round-trips PER PLAN (measured 3.3s of pure driver time at dim=64 on
#   the k-means shape), which swamps the executor win; one parsed string
#   costs ~1ms. element_at, NOT F.get: `get` compiles to a null-safe
#   branch wrapper that measured 4.3× slower. Under ANSI (Spark 4 default)
#   element_at throws on a ragged vector where zip_with would null-pad —
#   for fixed-width embedding columns the louder failure is the better
#   contract (a short vector is corrupt data).
#
# The `*_expr` wrappers accept `Column | str`: string operands are SQL
# fragments (a column name, a cast, …) and — when `dim` is given — take the
# unrolled path; Column operands always use the HOF fold (unrolling them
# would pay the Py4J tax the text form exists to avoid).
# --------------------------------------------------------------------------


def _sql_ident(name: str) -> str:
    """Backtick-quote a column name for safe splicing into a `*_sql`
    fragment (inner backticks doubled, Spark SQL identifier quoting).
    Plain identifiers pass through unchanged so generated text stays
    readable in `.explain` output."""
    if name.isidentifier():
        return name
    return "`" + name.replace("`", "``") + "`"


def _lit_d(x: float) -> str:
    """SQL double literal with exact round-trip (repr = shortest exact)."""
    v = float(x)
    if v != v or v in (float("inf"), float("-inf")):
        raise ValueError(f"non-finite vector component: {x!r}")
    return f"{v!r}D"


def dot_sql(a: str, b: str, dim: int) -> str:
    """Unrolled Σ aᵢ·bᵢ over two SQL vector fragments (left-associated)."""
    if dim < 1:
        raise ValueError(f"dot_sql: dim must be >= 1, got {dim}")
    return (
        "("
        + " + ".join(
            f"element_at({a}, {i}) * element_at({b}, {i})"
            for i in range(1, dim + 1)
        )
        + ")"
    )


def dot_lit_sql(a: str, q) -> str:
    """Unrolled dot against a literal vector — each component inlined as a
    double literal (NOT element_at over an array literal: that would inline
    the whole array once per term)."""
    q = [float(x) for x in q]
    if not q:
        raise ValueError("dot_lit_sql: empty query vector")
    return (
        "("
        + " + ".join(
            f"element_at({a}, {i}) * {_lit_d(x)}" for i, x in enumerate(q, 1)
        )
        + ")"
    )


def sqnorm_sql(a: str, dim: int) -> str:
    """Unrolled Σ xᵢ²."""
    if dim < 1:
        raise ValueError(f"sqnorm_sql: dim must be >= 1, got {dim}")
    return (
        "("
        + " + ".join(
            f"element_at({a}, {i}) * element_at({a}, {i})"
            for i in range(1, dim + 1)
        )
        + ")"
    )


def norm_sql(a: str, dim: int) -> str:
    return f"sqrt({sqnorm_sql(a, dim)})"


def l2sq_sql(a: str, b: str, dim: int) -> str:
    """Unrolled Σ (aᵢ−bᵢ)² — the k-means assignment distance."""
    if dim < 1:
        raise ValueError(f"l2sq_sql: dim must be >= 1, got {dim}")
    terms = []
    for i in range(1, dim + 1):
        d = f"(element_at({a}, {i}) - element_at({b}, {i}))"
        terms.append(f"{d} * {d}")
    return "(" + " + ".join(terms) + ")"


def norm_lit(q) -> float:
    """Driver-side L2 norm of a literal vector, computed with the SAME
    IEEE-754 sequence as the engine fold (left-to-right acc + x·x, then
    sqrt) — CPython floats are binary64, so the value is bit-identical to
    what the engine would compute, and can be inlined as a literal."""
    import math

    acc = 0.0
    for x in q:
        x = float(x)
        acc = acc + x * x
    return math.sqrt(acc)


def cosine_lit_sql(a: str, q) -> str:
    """Unrolled cosine(a, literal q): dot term per component, the query
    norm pre-computed driver-side (bit-exact — see norm_lit)."""
    q = [float(x) for x in q]
    return f"({dot_lit_sql(a, q)} / ({norm_sql(a, len(q))} * {_lit_d(norm_lit(q))}))"


def cosine_sql(a: str, b: str, dim: int) -> str:
    return f"({dot_sql(a, b, dim)} / ({norm_sql(a, dim)} * {norm_sql(b, dim)}))"


def dot_expr(
    a: Column | str, b: Column | str, dim: int | None = None
) -> Column:
    """Σ aᵢ·bᵢ — sequential left fold, same evaluation order as the DuckDB
    oracle's list_inner_product. String operands + dim → unrolled codegen
    text; Column operands → HOF fold (see module note above)."""
    if dim is not None and isinstance(a, str) and isinstance(b, str):
        return F.expr(dot_sql(a, b, dim))
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def sqnorm_expr(a: Column | str, dim: int | None = None) -> Column:
    """Σ xᵢ² (squared L2 norm) — unrolled when `a` is a SQL fragment and
    dim is known."""
    if dim is not None and isinstance(a, str):
        return F.expr(sqnorm_sql(a, dim))
    a = F.col(a) if isinstance(a, str) else a
    return F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x)


def norm_expr(a: Column | str, dim: int | None = None) -> Column:
    return F.sqrt(sqnorm_expr(a, dim))


def lp_norm_expr(
    a: Column | str, p: float, dim: int | None = None
) -> Column:
    """Lp vector norm (Σ|xᵢ|^p)^(1/p); p=1 → manhattan, p=2 → euclidean."""
    if p == 2.0:
        return norm_expr(a, dim)
    if dim is not None and isinstance(a, str):
        if p == 1.0:
            return F.expr(
                "("
                + " + ".join(
                    f"abs(element_at({a}, {i}))" for i in range(1, dim + 1)
                )
                + ")"
            )
        return F.expr(
            "pow("
            + " + ".join(
                f"pow(abs(element_at({a}, {i})), {_lit_d(p)})"
                for i in range(1, dim + 1)
            )
            + f", {_lit_d(1.0 / p)})"
        )
    a = F.col(a) if isinstance(a, str) else a
    if p == 1.0:
        return F.aggregate(a, F.lit(0.0), lambda acc, x: acc + F.abs(x))
    return F.pow(
        F.aggregate(a, F.lit(0.0), lambda acc, x: acc + F.pow(F.abs(x), F.lit(p))),
        F.lit(1.0 / p),
    )


def normalize_expr(a: Column, p: float = 2.0) -> Column:
    """Lp-normalize a vector column to unit norm (reference
    ml.feature.Normalizer, Normalizer.scala:35) — pure higher-order
    expressions, stays in whole-stage codegen."""
    n = lp_norm_expr(a, p)
    return F.transform(a, lambda x: x / n)


def _unit_normalize_col(df: DataFrame, vec_col: str, dim: int) -> DataFrame:
    """Unit-L2-normalize ``vec_col`` in place with fully UNROLLED codegen
    (r13): the HOF normalize_expr is CodegenFallback — interpreted per
    element with per-element allocation, measured ~60μs/row at dim=64 on
    every scan that feeds pq_train/pq_encode. The norm is staged in its
    own Project column so it computes ONCE per row (CollapseProject keeps
    non-cheap multi-referenced expressions staged, SPARK-36718), and the
    per-element divisions unroll into an ordinary codegen array(...).
    Bit-identical to normalize_expr: the fold's 0.0 seed vs the unrolled
    first-term start is the documented 0.0+x == x identity, and each
    element is the same x / sqrt(Σx²) Divide."""
    ident = _sql_ident(vec_col)
    out = df.withColumn(vec_col, F.col(vec_col).cast("array<double>"))
    out = out.withColumn("__nrm", F.expr(norm_sql(ident, dim)))
    arr = (
        "array("
        + ", ".join(
            f"(element_at({ident}, {i}) / `__nrm`)" for i in range(1, dim + 1)
        )
        + ")"
    )
    return out.withColumn(vec_col, F.expr(arr)).drop("__nrm")


def cosine_expr(
    a: Column | str, b: Column | str, dim: int | None = None
) -> Column:
    if dim is not None and isinstance(a, str) and isinstance(b, str):
        return F.expr(cosine_sql(a, b, dim))
    return dot_expr(a, b, dim) / (norm_expr(a, dim) * norm_expr(b, dim))


def cosine_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k by cosine against a literal query vector.

    The query vector is a literal array (broadcast by construction); the scan
    is embarrassingly parallel; orderBy+limit plans as per-partition top-k
    heaps merged on the driver — O(k) driver memory at any corpus size.
    """
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    return (
        embeddings.select(
            F.col(id_col).alias("vec_id"),
            F.round(cosine_expr(F.col(vec_col).cast("array<double>"), q), 6).alias(
                "cosine"
            ),
        )
        .orderBy(F.col("cosine").desc(), F.col("vec_id"))
        .limit(k)
    )


def label_centroids(
    embeddings: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """(label, centroid array<double>) — mean vector per cluster as ONE wide
    hash aggregate (dim avg columns reassembled into an array). The earlier
    posexplode + groupBy(label, dim) form expanded rows×dim BEFORE the
    shuffle; the wide form ships only k×dim map-side partials — at dim=1024
    and 100 TB that is a ~dim× shuffle-volume cut. Never collects vectors.
    The IVF coarse index."""
    if dim is None:
        dim = _infer_dim(embeddings, vec_col)
    v = F.col(vec_col).cast("array<double>")
    aggs = [F.avg(F.element_at(v, i + 1)).alias(f"_m{i}") for i in range(dim)]
    return (
        embeddings.groupBy(F.col(label_col).alias("label"))
        .agg(*aggs)
        .select(
            "label", F.array(*[F.col(f"_m{i}") for i in range(dim)]).alias("centroid")
        )
    )


def ivf_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_probe: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """IVF search: rank cluster centroids by cosine to the query, brute-force
    only the top `n_probe` clusters. At 100 TB the embedding table is
    partitioned by cluster id, so the probe is partition pruning — the scan
    touches n_probe/n_clusters of the data."""
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    cents = label_centroids(embeddings, label_col, vec_col)
    probes = (
        cents.select("label", cosine_expr(F.col("centroid"), q).alias("ccos"))
        .orderBy(F.col("ccos").desc(), F.col("label"))
        .limit(n_probe)
        .select("label")
    )
    pruned = embeddings.join(F.broadcast(probes), embeddings[label_col] == probes["label"])
    return (
        pruned.select(
            F.col(id_col).alias("vec_id"),
            F.round(cosine_expr(F.col(vec_col).cast("array<double>"), q), 6).alias(
                "cosine"
            ),
        )
        .orderBy(F.col("cosine").desc(), F.col("vec_id"))
        .limit(k)
    )


N_HYPERPLANES = 12


def hyperplane_patterns(dim: int, n_planes: int = N_HYPERPLANES) -> list[list[int]]:
    """Deterministic ±1 hyperplane patterns: sign p,d = parity of the
    portable 28-bit hash of 'p:d' (same md5 definition as functions.hashes
    .h28, evaluated driver-side since the inputs are constants)."""
    import hashlib

    def sign(p: int, d: int) -> int:
        h = int(hashlib.md5(f"{p}:{d}".encode()).hexdigest()[:7], 16)
        return 1 if h % 2 == 0 else -1

    return [[sign(p, d) for d in range(dim)] for p in range(n_planes)]


def hyperplane_bucket(
    vec: Column | str, dim: int, n_planes: int = N_HYPERPLANES
) -> Column:
    """LSH bucket key (bigint bit pattern): bit p = [dot(vec, pattern_p) > 0].
    Pure literal dot products — JVM-side, constant patterns. A Column
    operand keeps the HOF fold — the right default: the key projection is
    once-per-row (not a pair/assign hot loop), and the unrolled form's
    n_planes×dim expression tree costs ~3s of driver-side codegen/CSE per
    ACTION (measured at 12×64), which only amortizes when a single action
    scans ≫10⁶ rows. Pass a SQL fragment to opt into the unrolled form at
    that scale."""
    pats = hyperplane_patterns(dim, n_planes)
    if isinstance(vec, str):
        terms = [
            f"(CASE WHEN {dot_lit_sql(vec, pat)} > 0 "
            f"THEN shiftleft(CAST(1 AS BIGINT), {p}) ELSE CAST(0 AS BIGINT) END)"
            for p, pat in enumerate(pats)
        ]
        return F.expr("(" + " + ".join(terms) + ")")
    key = F.lit(0).cast("bigint")
    for p, pat in enumerate(pats):
        lit_pat = F.array(*[F.lit(float(s)) for s in pat])
        key = key + F.when(
            dot_expr(vec, lit_pat) > 0, F.shiftleft(F.lit(1).cast("bigint"), p)
        ).otherwise(F.lit(0).cast("bigint"))
    return key


def hyperplane_bucket_duck(vec_expr: str, dim: int, n_planes: int = N_HYPERPLANES) -> str:
    """DuckDB twin of hyperplane_bucket — same literal patterns."""
    pats = hyperplane_patterns(dim, n_planes)
    terms = []
    for p, pat in enumerate(pats):
        arr = "[" + ", ".join(f"{float(s)}" for s in pat) + "]"
        terms.append(
            f"(CASE WHEN list_inner_product({vec_expr}, {arr}) > 0 "
            f"THEN (1::BIGINT << {p}) ELSE 0 END)"
        )
    return "(" + " + ".join(terms) + ")"



LSH_BANDS = 4
LSH_PLANES_PER_BAND = 6


def hyperplane_band_keys(vec: Column | str, dim: int) -> Column:
    """Banded hyperplane LSH: 24 planes split into 4 bands of 6; returns an
    array of 4 band keys (band_idx·2^6 + 6 sign bits). Two vectors are
    candidates if ANY band matches: P(candidate) = 1−(1−p⁶)⁴ for sign-
    agreement p = 1−θ/π — ~95% recall at cosine 0.95, a sharp near-dup
    curve (single 12-bit bucketing recalls ~0% below cosine 0.7). A Column
    operand keeps the HOF fold — the right default for this once-per-row
    key projection (see hyperplane_bucket: the 24×dim unrolled tree costs
    ~3s driver-side codegen per action); a SQL fragment opts into the
    unrolled form for ≫10⁶-row single-action scans."""
    n_planes = LSH_BANDS * LSH_PLANES_PER_BAND
    pats = hyperplane_patterns(dim, n_planes)
    if isinstance(vec, str):
        band_terms = []
        for band in range(LSH_BANDS):
            terms = [f"CAST({band * (1 << LSH_PLANES_PER_BAND)} AS BIGINT)"]
            for j in range(LSH_PLANES_PER_BAND):
                p = band * LSH_PLANES_PER_BAND + j
                terms.append(
                    f"(CASE WHEN {dot_lit_sql(vec, pats[p])} > 0 "
                    f"THEN CAST({1 << j} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
                )
            band_terms.append("(" + " + ".join(terms) + ")")
        return F.expr("array(" + ", ".join(band_terms) + ")")
    keys = []
    for band in range(LSH_BANDS):
        key = F.lit(band * (1 << LSH_PLANES_PER_BAND)).cast("bigint")
        for j in range(LSH_PLANES_PER_BAND):
            p = band * LSH_PLANES_PER_BAND + j
            lit_pat = F.array(*[F.lit(float(s)) for s in pats[p]])
            key = key + F.when(
                dot_expr(vec, lit_pat) > 0, F.lit(1 << j).cast("bigint")
            ).otherwise(F.lit(0).cast("bigint"))
        keys.append(key)
    return F.array(*keys)


def hyperplane_band_keys_duck(vec_expr: str, dim: int) -> str:
    """DuckDB twin of hyperplane_band_keys."""
    n_planes = LSH_BANDS * LSH_PLANES_PER_BAND
    pats = hyperplane_patterns(dim, n_planes)
    bands = []
    for band in range(LSH_BANDS):
        terms = [str(band * (1 << LSH_PLANES_PER_BAND))]
        for j in range(LSH_PLANES_PER_BAND):
            p = band * LSH_PLANES_PER_BAND + j
            arr = "[" + ", ".join(f"{float(s)}" for s in pats[p]) + "]"
            terms.append(
                f"(CASE WHEN list_inner_product({vec_expr}, {arr}) > 0 "
                f"THEN {1 << j} ELSE 0 END)"
            )
        bands.append("(" + " + ".join(terms) + ")::BIGINT")
    return "[" + ", ".join(bands) + "]"

# registered queries import the helpers above, so this import must come last
from sparkfulltextquery_spark.similarity import queries  # noqa: E402,F401


def build_ann_index(
    embeddings: DataFrame,
    out_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> str:
    """Persist the IVF index: vectors parquet PARTITIONED BY cluster id (so
    a probe is directory-level partition pruning, not a filter scan) +
    the small centroid table. The similarity-side analogue of the bucketed
    text index (functions.index.build_index / DataFrameWriter.scala:170)."""
    (
        embeddings.select(
            F.col(id_col).alias("vec_id"),
            F.col(vec_col).cast("array<double>").alias("v"),
            F.col(label_col).alias("label"),
        )
        .write.mode("overwrite")
        .partitionBy("label")
        .parquet(f"{out_dir}/vectors")
    )
    label_centroids(embeddings, label_col, vec_col).write.mode("overwrite").parquet(
        f"{out_dir}/centroids"
    )
    return out_dir


def ann_search_indexed(
    spark: SparkSession,
    index_dir: str,
    query_vec: list[float],
    k: int = 10,
    n_probe: int = 3,
) -> DataFrame:
    """ANN top-k from the persisted IVF index: rank stored centroids, pick
    n_probe cluster ids (a bounded driver-side list — same discipline as
    top-k), scan ONLY those partitions (PartitionFilters in the plan), and
    brute-force the survivors."""
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    cents = spark.read.parquet(f"{index_dir}/centroids")
    probe_labels = [
        r.label
        for r in cents.select(
            "label", cosine_expr(F.col("centroid"), q).alias("ccos")
        )
        .orderBy(F.col("ccos").desc(), F.col("label"))
        .limit(n_probe)
        .collect()
    ]
    vecs = spark.read.parquet(f"{index_dir}/vectors").filter(
        F.col("label").isin(probe_labels)
    )
    return (
        vecs.select(
            "vec_id", F.round(cosine_expr(F.col("v"), q), 6).alias("cosine")
        )
        .orderBy(F.col("cosine").desc(), F.col("vec_id"))
        .limit(k)
    )


PQ_SUBSPACES = 8


def auto_pq_config(
    dim: int, n_vectors: int, n_clusters: int, k: int = 10
) -> dict:
    """Measured-grounded IVF-PQ defaults from corpus shape (r11, VERDICT
    r10 #2 — the dials were proven in SCALE.md r10 but had to be passed
    by hand). Returns {"m", "codes", "shortlist_k"}:

    - ``m``: subspace count targeting 4-dim subspaces once the corpus
      passes 10⁴ vectors (the SCALE.md finding: at 2k vectors/cluster
      m=8's 8-dim quantization noise already spans true-neighbor cosine
      gaps — m=16 lifts recall@10 from ~0.8 to 0.98 at shortlist 100,
      and HOLDS 0.915 a decade later where m=8 falls to 0.52); 8-dim
      subspaces suffice below that. Width snaps to the largest divisor
      of ``dim`` not exceeding the target.
    - ``codes``: a trained 256-code per-subspace codebook once the
      corpus can populate it (n ≥ 10⁴); the label-centroid codebook
      (codes=None) below that — small corpora lack the samples per code
      and the brute-force baseline is cheap there anyway.
    - ``shortlist_k``: scaled with DENSITY (vectors per coarse cluster).
      Trained codebook: density/20 — the sf1 point (density 2,000 → 100)
      measured 0.98. Label-centroid codebook (small corpora): 2·density —
      ADC has no within-cluster resolution there, so the shortlist must
      COVER the probed clusters' pool (the r9 SCALE.md finding). Both
      floored at 10·k and capped at 400 (recall is monotone in
      shortlist_k, so the cap only ever costs wall, not correctness;
      past the cap the recall dial is m, per the SCALE.md decade table).
    """
    target_sub = 4 if n_vectors >= 10_000 else 8
    sub = next(
        s for s in range(min(target_sub, dim), 0, -1) if dim % s == 0
    )
    density = n_vectors / max(n_clusters, 1)
    codes = 256 if n_vectors >= 10_000 else None
    scaled = density // 20 if codes else 2 * density
    return {
        "m": dim // sub,
        "codes": codes,
        "shortlist_k": int(min(400, max(10 * k, scaled))),
    }


def pq_codebook(
    embeddings: DataFrame,
    m: int = PQ_SUBSPACES,
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Product-quantization codebook: (s, label, csub) — one centroid slice
    per (subspace, code). Codes reuse the coarse clusters (`label`), so the
    per-subspace codebook is just the label-centroid sliced into m pieces:
    deterministic, trained in one shuffle (label_centroids), and tiny
    (m·L rows) → always broadcast."""
    # L2-normalize before training: ADC then approximates COSINE (dot on
    # the unit sphere), not the norm-biased raw dot product
    dim = _infer_dim(embeddings, vec_col)
    emb_n = embeddings.withColumn(
        vec_col, normalize_expr(F.col(vec_col).cast("array<double>"))
    )
    cents = label_centroids(emb_n, label_col, vec_col, dim=dim)
    sub = dim // m
    slices = F.array(*[F.slice("centroid", s * sub + 1, sub) for s in range(m)])
    return cents.select("label", F.posexplode(slices).alias("s", "csub"))


def pq_adc_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    m: int | None = None,
    shortlist_k: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    probe_labels: list | None = None,
    literals: dict | None = None,
) -> DataFrame:
    """PQ-ADC shortlist + exact re-rank: vectors are L2-normalized and
    encoded as m small codes (argmin centroid per subspace); the query is
    NOT quantized — its score against a code word is a lookup-table entry,
    and the ADC score (sum of m LUT entries) ranks a shortlist of
    `shortlist_k` candidates which are then re-ranked by exact cosine.
    The re-rank is what makes a coarse codebook usable: same-code vectors
    are indistinguishable to ADC, so pure-ADC top-k degenerates to
    cluster-prefix order (measured: 2/10 recall vs 10/10 with re-rank).

    Scale shape: the codebook is m·L entries BY CONSTRUCTION — independent
    of corpus size — so it is collected once (bounded, like the query
    vector) and folded into the plan as literals: encode+ADC become pure
    whole-stage-codegen expressions over one scan (argmin via
    array_position(arr, array_min(arr)) — first match = lowest label, the
    engine-portable tie-break), with NO join and NO shuffle; the only
    exchanges are the C-bounded shortlist heap and the broadcast of C ids
    into the re-rank scan. At 100 TB codes are precomputed and stored (m
    bytes per vector instead of 4·dim) so the shortlist pass never reads
    the raw vectors — the classic IVF-PQ memory win.

    ``m=None`` / ``shortlist_k=None`` (r11): resolved from the literals
    dict — ``m`` always travels with the codebook that was trained; the
    auto shortlist is present only when pq_train ran in full-auto mode,
    otherwise the fixed default 30 applies (the registered-oracle
    operating point)."""
    lit = literals if literals is not None else pq_train(embeddings, m, vec_col, label_col)
    if m is None:
        m = lit["m"]
    if shortlist_k is None:
        shortlist_k = lit.get("shortlist_k", 30)
    labels, cent, sub = lit["labels"], lit["cent"], lit["sub"]

    if len(labels) > 64:
        # a large trained codebook would unroll to megabytes of generated
        # code inline — encode via the broadcast-join path and score from
        # codes (same 6dp/lowest-code argmin contract, identical results)
        return pq_adc_topk_from_codes(
            pq_encode(embeddings, m, id_col, vec_col, label_col, literals=lit),
            embeddings,
            query_vec,
            k=k,
            m=m,
            shortlist_k=shortlist_k,
            id_col=id_col,
            vec_col=vec_col,
            label_col=label_col,
            literals=lit,
            probe_labels=probe_labels,
        )

    qnorm = sum(x * x for x in query_vec) ** 0.5 or 1.0
    qvec_n = [float(x) / qnorm for x in query_vec]

    src = embeddings
    if probe_labels is not None:
        # IVF-PQ: restrict the ADC scan to the probed coarse clusters —
        # partition pruning when the table is stored partitioned by label
        src = src.filter(F.col(label_col).isin(list(probe_labels)))
    ev = src.select(
        F.col(id_col).alias("vec_id"),
        normalize_expr(F.col(vec_col).cast("array<double>")).alias("v"),
    )

    # Build encode+ADC as ONE generated SQL expression (F.expr): the
    # nested-lambda Column form costs thousands of py4j round trips at plan
    # build (~3s); a generated string parses JVM-side in one call.
    # d2 as the direct sum of squared differences Σ(vᵢ−cᵢ)², summed in index
    # order — the SAME arithmetic form (term values and addition order) as
    # the DuckDB oracle, so the 6dp rounding before the argmin sees
    # bit-identical inputs on both engines (a ||v||²−2vc+||c||² expansion
    # can land on the other side of a rounding boundary). Tie-break:
    # array_position returns the FIRST minimal index = lowest label.
    adc_terms = []
    for sp in range(m):
        idx = [sp * sub + j + 1 for j in range(sub)]
        d2s = []
        for lab in labels:
            c = cent[(sp, lab)]
            ssd = " + ".join(
                f"(element_at(v,{i})-({cj!r}))*(element_at(v,{i})-({cj!r}))"
                for i, cj in zip(idx, c)
            )
            d2s.append(f"round({ssd}, 6)")
        d2s_arr = "array(" + ", ".join(d2s) + ")"
        lut = ", ".join(
            repr(
                round(
                    sum(
                        a * b
                        for a, b in zip(qvec_n[sp * sub : (sp + 1) * sub], cent[(sp, lab)])
                    ),
                    6,
                )
            )
            for lab in labels
        )
        adc_terms.append(
            f"element_at(array({lut}), "
            f"cast(array_position(_d2s{sp}, array_min(_d2s{sp})) as int))"
        )
        ev = ev.withColumn(f"_d2s{sp}", F.expr(d2s_arr))
    adc = F.expr(" + ".join(adc_terms))

    shortlist = (
        ev.select("vec_id", F.round(adc, 6).alias("adc"))
        .orderBy(F.col("adc").desc(), F.col("vec_id"))
        .limit(shortlist_k)
        .select("vec_id")
    )
    # exact re-rank of the bounded shortlist: cosine == dot on the unit
    # sphere; the shortlist is tiny (C rows) so it broadcasts into the
    # vector scan and the final top-k is a heap over C candidates
    qlit = F.array(*[F.lit(x) for x in qvec_n])
    return (
        ev.join(F.broadcast(shortlist), "vec_id")
        .select("vec_id", F.round(dot_expr(F.col("v"), qlit), 6).alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col("vec_id"))
        .limit(k)
    )


def _argmin_np_udf(sc, cent_rows):
    """Vectorized nearest-centroid argmin as an Arrow pandas_udf over the
    vector column, against a DRIVER-COLLECTED (cluster, c) list (bounded
    k·dim — the mllib KMeans discipline: runAlgorithm broadcasts collected
    centers every round). Semantics are the kmeans_assign contract:
    squared-L2 rounded at 6dp, ties to the LOWEST cluster id — implemented
    by iterating clusters ascending with a strict `<` update. Per batch the
    distance is the explicit (v−c)² row sum (no ‖v‖²+‖c‖²−2v·c
    rearrangement: its cancellation error on near-duplicate vectors is far
    above the fold's ulp), so the only difference vs the JVM fold is
    pairwise vs sequential summation order — last-ulp, absorbed by the 6dp
    round exactly like the DuckDB-vs-Spark order difference the 6dp
    contract already exists for; assignments verified row-identical vs the
    fold form at sf0.001/0.01/0.1/1 (k=8..141) and the full parity matrix.

    Why Arrow/NumPy instead of JVM expressions (guide §4.2): the n·k hot
    loop needs k dim-length distance sums PER ROW; every JVM spelling
    measured slower at scale — HigherOrderFunction fold (CodegenFallback,
    interpreted + per-element alloc): 13.7s for kmeans_iterate(k=141) at
    sf1; crossJoin(k rows) + unrolled codegen d2 + min(struct) partial agg
    (shuffles n rows/round): 4.3s; unrolled d2 INSIDE transform (one
    parse, still interpreted): 25.8s; this NumPy batch argmin: 1.03s,
    identical assignments. At sf10 (n=200k, k=447) the gap widens — the
    fold is O(n·k·dim) interpreted evals while NumPy streams the same
    flops through vectorized C."""
    clusters = np.array([int(r[0]) for r in cent_rows], dtype=np.int64)
    C = np.array([[float(x) for x in r[1]] for r in cent_rows], dtype=np.float64)
    bc = _centroid_broadcast(sc, clusters, C)

    @F.pandas_udf("int")
    def argmin_np(s: pd.Series) -> pd.Series:
        cl, Cm = bc.value
        V = np.array(s.tolist(), dtype=np.float64)
        best_d = np.full(len(V), np.inf)
        best_c = np.zeros(len(V), dtype=np.int64)
        for j in range(len(cl)):
            # np.round is round-half-to-even while the JVM/oracle F.round
            # contract is HALF_UP — an EXACTLY-representable halfway d2 at
            # 6dp would tie-break differently; unreachable for sums of
            # squares of real-valued doubles (the decimal expansion of a
            # binary double is never exactly x.xxxxxx5), and row-identity
            # vs the JVM reference is pinned in tests (ADVICE r12 note).
            d2 = np.round(((V - Cm[j]) ** 2).sum(axis=1), 6)
            take = d2 < best_d  # strict: ties keep the earlier (lower) cluster
            best_d = np.where(take, d2, best_d)
            best_c = np.where(take, cl[j], best_c)
        return pd.Series(best_c)

    return argmin_np


# one-slot broadcast cache for _argmin_np_udf (r13, VERDICT r12 #5): a
# long-lived caller that re-assigns against the SAME centroid generation
# (the ANN lifecycle's per-micro-batch ingest assignment) reuses one
# broadcast instead of leaking one per batch; a NEW generation (or the next
# Lloyd round) unpersists the superseded broadcast — safe even if an older
# lazy plan still references it, because Broadcast.unpersist() only drops
# the executor copies (the driver re-ships on demand; only destroy() would
# invalidate it). _BC_CREATED counts real broadcast constructions so tests
# can pin the one-per-generation contract.
_BC_SLOT: dict = {}
_BC_CREATED: int = 0


def _centroid_broadcast(sc, clusters, C):
    key = (clusters.tobytes(), C.tobytes(), C.shape)
    slot = _BC_SLOT
    if slot.get("key") == key and slot.get("app") == sc.applicationId:
        return slot["bc"]
    global _BC_CREATED
    if slot.get("app") == sc.applicationId:
        slot["bc"].unpersist()
    bc = sc.broadcast((clusters, C))
    _BC_CREATED += 1
    slot.update({"key": key, "bc": bc, "app": sc.applicationId})
    return bc


def kmeans_assign(
    vectors: DataFrame, centroids: DataFrame, vec_col: str = "v",
    dim: int | None = None,
) -> DataFrame:
    """(vec_id, cluster): nearest-centroid assignment. The k-row centroid
    relation is COLLECTED (bounded k·dim doubles — the same driver-side
    budget pq_train's codebook collect already uses, and exactly what
    mllib KMeans does per round) and broadcast into a vectorized Arrow
    argmin over the vector column — entirely MAP-SIDE: no join, no
    exchange, one ArrowEvalPython over (vec_id, v) batches (r12 second
    pass; see _argmin_np_udf for the measured A/B against the three JVM
    spellings — 4-13× at sf1, more at sf10). Squared-L2 rounds at 6dp so
    the tie-break (cluster asc) stays engine-portable; ``dim`` is accepted
    for signature compatibility."""
    del dim  # the NumPy batch argmin needs no static unroll
    rows = sorted(
        ((r["cluster"], list(r["c"])) for r in centroids.select("cluster", "c").collect()),
        key=lambda t: t[0],
    )
    if not rows:
        # empty-centroid semantics of the pre-r12 crossJoin: no centroids →
        # no assignment rows
        return vectors.select(
            F.col("vec_id"), F.lit(None).cast("int").alias("cluster")
        ).limit(0)
    udf = _argmin_np_udf(vectors.sparkSession.sparkContext, rows)
    return vectors.select("vec_id", udf(vec_col).alias("cluster"))


def kmeans_iterate(
    embeddings: DataFrame,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    truncate_lineage: bool = False,
) -> DataFrame:
    """Lloyd's K-means as pure DataFrame ops (reference analogue:
    mllib org.apache.spark.ml.clustering.KMeans) — deterministic init
    (centroids = the k lowest-id vectors via orderBy+limit, so any id
    domain — non-contiguous, non-zero-based — seeds exactly k clusters,
    labeled by seed vec_id), `iters` unrolled assign→update rounds,
    returns final (vec_id, cluster).

    Scale shape per round: the k·dim centroid table COLLECTS to the driver
    (the mllib KMeans discipline — runAlgorithm collects and broadcasts the
    centers every round) and assignment is a vectorized Arrow argmin over
    the vector batches — fully map-side, NO join and NO shuffle of the
    vectors (r12 second pass; the measured A/B of the four assignment
    spellings is in _argmin_np_udf's docstring — this one is 4-13× the
    JVM forms at sf1 and identical row-for-row); update = posexplode →
    groupBy(cluster, dim) → gather — shuffle volume O(k·dim), not O(rows).
    Each non-final round therefore runs as its own bounded job at
    CONSTRUCTION time (k·dim doubles to the driver); only the final
    assignment stays lazy. ``truncate_lineage`` is accepted for signature
    compatibility — lineage is already cut by construction (each round's
    input is a collected literal), so the flag is a no-op."""
    ev = embeddings.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).cast("array<double>").alias("v")
    )
    sc = embeddings.sparkSession.sparkContext
    cents = (
        ev.orderBy("vec_id")
        .limit(k)
        .select(F.col("vec_id").cast("int").alias("cluster"), F.col("v").alias("c"))
    )
    assigned = None
    for i in range(iters):
        rows = sorted(
            ((r["cluster"], list(r["c"])) for r in cents.select("cluster", "c").collect()),
            key=lambda t: t[0],
        )
        if not rows:
            return ev.select(
                "vec_id", F.lit(None).cast("int").alias("cluster")
            ).limit(0)
        udf = _argmin_np_udf(sc, rows)
        # the assignment keeps `v` so the update aggregates it directly
        # instead of re-joining the scan
        assigned = ev.select("vec_id", "v", udf("v").alias("cluster"))
        if i == iters - 1:
            break  # the final update round was never consumed (lazy)
        # centroid update as posexplode → avg per (cluster, dim) → gather —
        # the oracle's own CTE shape (_kmeans_duck m{i}/c{i}); shuffle
        # volume O(k·dim) after the map-side partial agg
        upd = (
            assigned.select("cluster", F.posexplode("v").alias("pos", "x"))
            .groupBy("cluster", "pos")
            .agg(F.avg("x").alias("m"))
        )
        cents = upd.groupBy("cluster").agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "m"))), lambda p: p["m"]
            ).alias("c")
        )
    return assigned.select("vec_id", "cluster")


def pq_train(
    embeddings: DataFrame,
    m: int | None = None,
    vec_col: str = "embedding",
    label_col: str = "label",
    codes: int | None = None,
    train_iters: int = 4,
    id_col: str = "vec_id",
) -> dict:
    """Train the PQ/IVF structures, returned as plan literals. Everything
    the ANN stack needs derives from this dict without touching the
    cluster again: full centroids (IVF probe ranking — driver-side, k·dim
    floats), per-subspace codebook (encode + ADC LUT), subspace width.

    Two codebook modes:

    - ``codes=None`` (default): the label-centroid codebook — each coarse
      cluster's centroid sliced into m pieces. ONE Spark job (a wide hash
      aggregate), deterministic, but it only resolves BETWEEN coarse
      clusters: same-cluster vectors share codes, so ADC shortlists on
      tightly clustered data degrade to cluster-prefix order and
      shortlist_k must grow toward the cluster size (SCALE.md r9 curve).
    - ``codes=L`` (r10, VERDICT r09 #1; e.g. 256): a per-subspace k-means
      codebook trained with ``train_iters`` Lloyd rounds over the
      subvectors (the classic Jégou PQ trainer; reference analogue
      mllib/.../ml/clustering/KMeans.scala). L codewords PER SUBSPACE
      resolve within clusters too — recall@10 ≥ 0.9 at shortlist_k ≤ 100
      on the planted clustered corpus (measured table in SCALE.md; the
      label-centroid codebook needs shortlist_k ≈ cluster size there).
      Consumed unchanged by pq_encode / pq_adc_topk / ivfpq_topk: code
      values are 1-based positions into ``labels`` either way.

    IVF coarse probing always uses the label centroids (``full`` +
    ``ivf_labels``) — the trained codebook replaces only the ADC
    resolution, not the partition-pruning structure.

    FULL-AUTO mode (r11, VERDICT r10 #2): with ``m=None`` (the default),
    (m, codes, shortlist_k) derive from the corpus shape via
    auto_pq_config — 4-dim subspaces and a trained 256-code codebook
    once the corpus passes 10⁴ vectors, shortlist scaled with cluster
    density — and the returned dict carries ``shortlist_k`` which
    ivfpq_topk/pq_adc_topk consume when the caller passes none. Any
    explicitly passed arg overrides its auto value; an explicit ``m``
    disables auto entirely (codes=None then means the label-centroid
    codebook, exactly the pre-r11 contract)."""
    dim = _infer_dim(embeddings, vec_col)
    auto_shortlist: int | None = None
    if m is None:
        emb_count = embeddings.count()
    # r13: unrolled-codegen normalize (see _unit_normalize_col) — the HOF
    # form ran interpreted per element under every trainer/centroid scan
    emb_n = _unit_normalize_col(embeddings, vec_col, dim)
    rows = label_centroids(emb_n, label_col, vec_col, dim=dim).collect()
    ivf_labels = sorted(r["label"] for r in rows)
    full = {r["label"]: [float(x) for x in r["centroid"]] for r in rows}
    if m is None:
        cfg = auto_pq_config(dim, emb_count, len(ivf_labels))
        m = cfg["m"]
        if codes is None:
            codes = cfg["codes"]
        auto_shortlist = cfg["shortlist_k"]
    sub = dim // m
    if codes is None:
        labels: list = ivf_labels
        cent = {
            (s, lab): full[lab][s * sub : (s + 1) * sub]
            for lab in ivf_labels
            for s in range(m)
        }
    else:
        labels, cent = _train_subspace_codebook(
            emb_n, m, sub, codes, train_iters, id_col, vec_col
        )
    out = {
        "labels": labels,
        "full": full,
        "cent": cent,
        "sub": sub,
        "dim": dim,
        "m": m,
        "ivf_labels": ivf_labels,
    }
    if auto_shortlist is not None:
        # present ONLY in full-auto mode: consumers fall back to their
        # fixed default when the dict was trained with explicit knobs
        out["shortlist_k"] = auto_shortlist
    return out


def _train_subspace_codebook(
    emb_n: DataFrame,
    m: int,
    sub: int,
    L: int,
    iters: int,
    id_col: str,
    vec_col: str,
) -> tuple[list, dict]:
    """Per-subspace L-code k-means, all m subspaces trained JOINTLY:
    one exploded (vec_id, s, subvector) relation, each Lloyd round =
    broadcast(m·L codewords) join + min(struct) partial-agg argmin +
    per-(s, code) component means. Shuffle volume per round is O(n·m)
    map-side-combined rows for the argmin and O(m·L·sub) for the update —
    never the n·m·L expanded relation (AggregateExec combines per task).

    Determinism: init codewords are each subspace's L DISTINCT subvectors
    with the lowest first-occurrence vec_id (duplicate init centroids
    would waste codes); distances round at 6dp with lowest-code tie-break
    — the same contract as pq_encode's argmin, so assignment is
    engine-portable.

    Empty-code SPLIT-RESEED (r11, VERDICT r10 #4): a code that loses all
    members in a round is reseeded — in ascending code order, per
    subspace — at the round's FARTHEST assigned subvectors (rows ranked
    d2 desc, vec_id asc; duplicates of a surviving codeword or an
    earlier seed skipped), the standard k-means repair that splits the
    loosest region instead of silently shrinking the codebook. The rank
    is fully pinned (6dp d2, vec_id tie-break), so training stays
    deterministic; the happy path (no code emptied — detected from the
    bounded m·L centroid table) runs zero extra distributed work. Codes
    that STILL end missing from some subspace (a subspace with fewer
    distinct subvectors than seeds needed) are dropped exactly as
    before; callers index the LUT by position into `labels`, so a
    shrunken codebook stays consistent by construction.

    r13 (VERDICT r12 #4): each Lloyd round's argmin runs as the SAME
    vectorized NumPy batch argmin as kmeans_assign (_argmin_np_udf's
    measured A/B — the broadcast-join + min(struct) form evaluated an
    interpreted n·m·L-row d2 filter and shuffled the n·m relation every
    round). The m·L codebook lives as driver rows between rounds (it was
    ALREADY collected per round for the reseed check), the per-round
    assignment is map-side ArrowEvalPython, and the only distributed work
    per round is the O(m·L·sub) component-mean aggregation, collected as
    the next round's codebook — ONE job per round instead of the
    localCheckpoint + collect pair. Semantics are reproduced exactly:
    d2 = round(Σ(sv_j − c_j)², 6) iterating codes ASCENDING with a
    strict-< update (≡ min(struct(d2, code))), and the reseed ranking
    consumes the same 6dp d2 the UDF emits. NumPy-vs-JVM divergence
    class is unchanged from kmeans_assign: summation order (identical
    for sub ≤ 8; last-ulp otherwise, absorbed by the 6dp round) and
    np.round half-to-even vs F.round HALF_UP on an exactly-halfway d2
    (unreachable for binary doubles — see _argmin_np_udf); codebook
    row-identity vs the join form is pinned in tests.

    The exploded subvector relation is cached for the duration of the
    `iters` passes (training is a one-off job; the cache is released
    before returning)."""
    from pyspark.sql import Window

    sc = emb_n.sparkSession.sparkContext
    ev = emb_n.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("v")
    )
    slices = F.array(*[F.slice("v", s * sub + 1, sub) for s in range(m)])
    sv = ev.select("vec_id", F.posexplode(slices).alias("s", "sv")).cache()
    try:
        first = sv.groupBy("s", "sv").agg(F.min("vec_id").alias("first_id"))
        w = Window.partitionBy("s").orderBy("first_id")
        rows = (
            first.withColumn("code", F.row_number().over(w))
            .filter(F.col("code") <= L)
            .select("s", "code", F.col("sv").alias("c"))
            .collect()
        )
        comp_aggs = [
            F.avg(F.element_at(F.col("msv"), j + 1)).alias(f"_m{j}")
            for j in range(sub)
        ]
        init_pairs = {(int(r["s"]), int(r["code"])) for r in rows}
        for _ in range(iters):
            udf, bc = _subspace_argmin_udf(sc, rows)
            assigned = sv.select(
                "vec_id", "s", F.col("sv").alias("msv"), udf("s", "sv").alias("best")
            )
            cents_df = (
                assigned.select("s", F.col("best.code").alias("code"), "msv")
                .groupBy("s", "code")
                .agg(*comp_aggs)
                .select(
                    "s",
                    "code",
                    F.array(*[F.col(f"_m{j}") for j in range(sub)]).alias("c"),
                )
            )
            rows = cents_df.collect()
            # split-reseed emptied codes (see docstring); the missing-set
            # check is now a pure driver-side set difference over the rows
            # the round collects anyway
            have = {(int(r["s"]), int(r["code"])) for r in rows}
            missing = sorted(init_pairs - have)
            if missing:
                rows = rows + _reseed_codes(assigned, rows, missing)
            bc.unpersist()
    finally:
        sv.unpersist()
    by_code: dict = {}
    for r in rows:
        by_code.setdefault(int(r["code"]), {})[int(r["s"])] = [
            float(x) for x in r["c"]
        ]
    # survivors only, and only codes present in EVERY subspace (a code that
    # emptied in one subspace has no consistent LUT row)
    labels = sorted(c for c, per_s in by_code.items() if len(per_s) == m)
    cent = {(s, c): by_code[c][s] for c in labels for s in range(m)}
    return labels, cent


def _subspace_argmin_udf(sc, rows):
    """Per-(s, sv)-row nearest-codeword argmin as an Arrow pandas_udf —
    the _argmin_np_udf shape specialized to the jointly-trained subspace
    codebooks: the bounded m·L codebook rows broadcast as per-subspace
    NumPy matrices, each batch grouped by s and reduced with the same
    6dp-rounded strict-< ascending-code loop (≡ min(struct(d2, code))).
    Returns (udf, broadcast) so the caller can unpersist the broadcast
    once the round's consumers have run."""
    per_s: dict = {}
    for r in sorted(rows, key=lambda r: (int(r["s"]), int(r["code"]))):
        per_s.setdefault(int(r["s"]), ([], []))
        codes, vecs = per_s[int(r["s"])]
        codes.append(int(r["code"]))
        vecs.append([float(x) for x in r["c"]])
    table = {
        s: (np.array(codes, dtype=np.int64), np.array(vecs, dtype=np.float64))
        for s, (codes, vecs) in per_s.items()
    }
    bc = sc.broadcast(table)

    @F.pandas_udf("d2 double, code int")
    def argmin_sub(s: pd.Series, sv: pd.Series) -> pd.DataFrame:
        tbl = bc.value
        svals = s.to_numpy()
        out_d = np.empty(len(svals), dtype=np.float64)
        out_c = np.empty(len(svals), dtype=np.int64)
        for sval in np.unique(svals):
            idx = svals == sval
            V = np.array(sv[idx].tolist(), dtype=np.float64)
            codes, C = tbl[int(sval)]
            best_d = np.full(len(V), np.inf)
            best_c = np.zeros(len(V), dtype=np.int64)
            for j in range(len(codes)):
                d2 = np.round(((V - C[j]) ** 2).sum(axis=1), 6)
                take = d2 < best_d
                best_d = np.where(take, d2, best_d)
                best_c = np.where(take, codes[j], best_c)
            out_d[idx] = best_d
            out_c[idx] = best_c
        return pd.DataFrame({"d2": out_d, "code": out_c})

    return argmin_sub, bc


def _reseed_codes(
    assigned: DataFrame, cent_rows: list, missing: list[tuple]
) -> list:
    """The split-reseed step of _train_subspace_codebook: for each
    (subspace, emptied code), seed a fresh codeword at the round's
    farthest assigned subvector in that subspace — rows ranked (d2 desc,
    vec_id asc), skipping subvectors that 6dp-equal a surviving codeword
    or an earlier seed of this round. Bounded work: one row_number window
    over the affected subspaces' rows with a small collected head
    (headroom for dedup skips). r13: takes/returns the DRIVER-side
    codebook rows (the trainer keeps them between rounds now), so the
    only distributed work is the pool window."""
    from pyspark.sql import Window

    need: dict = {}
    for s, c in missing:
        need.setdefault(s, []).append(c)
    need = {s: sorted(cs) for s, cs in need.items()}
    max_need = max(len(cs) for cs in need.values())
    w = Window.partitionBy("s").orderBy(F.col("d2").desc(), F.col("vec_id"))
    pool = (
        assigned.filter(F.col("s").isin(sorted(need)))
        .select(
            "s", "vec_id", F.col("best.d2").alias("d2"), "msv"
        )
        .withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= max_need * 4 + 8)
        .collect()
    )
    existing: dict = {}
    for r in cent_rows:
        existing.setdefault(int(r["s"]), set()).add(
            tuple(round(float(x), 6) for x in r["c"])
        )
    pool_by_s: dict = {}
    for r in sorted(pool, key=lambda r: (r["s"], r["_rk"])):
        pool_by_s.setdefault(int(r["s"]), []).append(r)
    rows = []
    for s in sorted(need):
        taken = existing.setdefault(s, set())
        it = iter(pool_by_s.get(s, []))
        for code in need[s]:
            for r in it:
                key = tuple(round(float(x), 6) for x in r["msv"])
                if key not in taken:
                    taken.add(key)
                    rows.append(
                        {"s": s, "code": code, "c": [float(x) for x in r["msv"]]}
                    )
                    break
    return rows


def ivf_probe_labels(lit: dict, query_vec: list[float], n_probe: int) -> list:
    """Top `n_probe` coarse clusters by rounded centroid·query dot — pure
    driver-side arithmetic over the collected centroid literals (k·dim
    floats), zero Spark jobs. Same 6dp-round + label-asc tie-break as the
    DataFrame/oracle form; dots are left-to-right index-order sums, the
    same IEEE sequence both engines evaluate."""
    qn = sum(x * x for x in query_vec) ** 0.5 or 1.0
    qv = [float(x) / qn for x in query_vec]
    # coarse probing always ranks the LABEL centroids — under a trained
    # codebook (pq_train codes=L) lit["labels"] holds code ids, not
    # cluster labels; ivf_labels carries the coarse list either way
    coarse = lit.get("ivf_labels", lit["labels"])
    scored = sorted(
        ((-round(sum(a * b for a, b in zip(lit["full"][lab], qv)), 6), lab) for lab in coarse),
    )
    return [lab for _, lab in scored[:n_probe]]


def ivfpq_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_probe: int = 2,
    m: int | None = None,
    shortlist_k: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    literals: dict | None = None,
    codes: DataFrame | None = None,
) -> DataFrame:
    """IVF-PQ: the full ANN stack — coarse probe (top `n_probe` clusters by
    centroid similarity, a bounded driver-side label list → partition
    pruning at scale), PQ-ADC shortlist WITHIN the probed clusters only,
    exact re-rank. The query touches n_probe/L of the codes and C raw
    vectors; everything else is never read.

    Pass `literals` (pq_train output) and `codes` (persisted pq_encode
    table) to make the call plan-only: no training jobs, the shortlist
    reads m ints/row from the pruned code partitions.

    ``shortlist_k`` is the recall/cost dial (r9, VERDICT r08 #7): the
    DEFAULT label-centroid codebook carries one code per coarse cluster
    per subspace, so ADC resolves BETWEEN coarse clusters, not within
    them — on a tightly clustered corpus, same-cluster vectors share
    codes and the ADC shortlist is a tie-broken prefix; size shortlist_k
    toward the probed clusters' candidate-pool size there. The structural
    fix (r10, VERDICT r09 #1) is ``pq_train(..., codes=256)``: a trained
    per-subspace k-means codebook restores WITHIN-cluster ADC resolution
    and shrinks shortlist_k back to O(100) — measured recall table in
    SCALE.md; this function consumes either dict unchanged.

    With NO knobs passed (r11, VERDICT r10 #2 — ``ivfpq_topk(emb, q)``),
    pq_train runs in full-auto mode and this call inherits its derived
    (m, codes, shortlist_k): on corpora past 10⁴ vectors that is the
    trained-256 4-dim-subspace configuration measured ≥ 0.9 recall@10
    across the sf1→sf10 decade, with shortlist scaled to density."""
    lit = literals if literals is not None else pq_train(embeddings, m, vec_col, label_col)
    if m is None:
        m = lit["m"]
    if shortlist_k is None:
        shortlist_k = lit.get("shortlist_k", 30)
    probes = ivf_probe_labels(lit, query_vec, n_probe)
    if codes is not None:
        return pq_adc_topk_from_codes(
            codes,
            embeddings,
            query_vec,
            k=k,
            m=m,
            shortlist_k=shortlist_k,
            id_col=id_col,
            vec_col=vec_col,
            label_col=label_col,
            literals=lit,
            probe_labels=probes,
        )
    return pq_adc_topk(
        embeddings,
        query_vec,
        k=k,
        m=m,
        shortlist_k=shortlist_k,
        id_col=id_col,
        vec_col=vec_col,
        label_col=label_col,
        probe_labels=probes,
        literals=lit,
    )


def _pq_code_exprs(labels, cent, m, sub, vec: str = "v", nrm: str | None = None):
    """Per-subspace 1-based code expressions (same argmin/round/tie-break
    and the same Σ(vᵢ−cᵢ)² arithmetic form as pq_adc_topk) over a
    normalized vector column ``vec`` — or, with ``nrm`` given, over the
    RAW vector with the unit-normalize division fused into every element
    reference ((vecᵢ / nrm) − c)², the identical IEEE sequence. The fused
    form keeps the plan free of an intermediate normalized-array column:
    a staged array would be re-inlined into the m·L·sub element
    references by the optimizer's extract-over-array rewrites, whose
    intermediate tree blow-up OOMs a default-heap driver (r13 — found by
    the vanilla-session verify drive)."""
    codes = []
    for sp in range(m):
        idx = [sp * sub + j + 1 for j in range(sub)]
        d2s = []
        for lab in labels:
            c = cent[(sp, lab)]
            if nrm is None:
                elems = [f"element_at({vec},{i})" for i in idx]
            else:
                elems = [f"(element_at({vec},{i}) / {nrm})" for i in idx]
            ssd = " + ".join(
                f"({e}-({cj!r}))*({e}-({cj!r}))" for e, cj in zip(elems, c)
            )
            d2s.append(f"round({ssd}, 6)")
        arr = "array(" + ", ".join(d2s) + ")"
        codes.append(f"cast(array_position({arr}, array_min({arr})) as int)")
    return codes


def pq_encode(
    embeddings: DataFrame,
    m: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    literals: dict | None = None,
) -> DataFrame:
    """(vec_id, label, codes array<int>) — the persistable PQ code table
    (m small ints per vector instead of 4·dim bytes). Stored partitioned
    by the coarse label, IVF-PQ queries prune to probed partitions and
    never read raw vectors until the re-rank.

    Small codebooks (≤64 codes) encode as one statically-unrolled
    whole-stage-codegen expression over the scan — zero joins/shuffles.
    A trained 256-code codebook would unroll to ~1 MB of generated code
    per subspace, so large codebooks take the broadcast-join shape
    instead: explode to (vec_id, s, subvector), join broadcast(m·L
    codewords), argmin via min(struct) partial agg, reassemble the code
    array ordered by subspace. Same 6dp rounding and lowest-code
    tie-break on both paths (and the same left-to-right IEEE distance
    sum), so the chosen codes are identical path-independently.

    ``m=None`` (r11): taken from the literals dict (the codebook always
    knows its own subspace count); without literals, pq_train runs in
    full-auto mode."""
    if literals is None:
        literals = pq_train(embeddings, m, vec_col, label_col)
    if m is None:
        m = literals["m"]
    labels, cent, sub = literals["labels"], literals["cent"], literals["sub"]
    # the norm runs over the FULL vector (m·sub == dim for every
    # auto/explicit config; literals["dim"] covers a non-divisible m)
    dim = int(literals.get("dim") or m * sub)
    if len(labels) > 64:
        ev = _unit_normalize_col(
            embeddings.select(
                F.col(id_col).alias("vec_id"),
                F.col(label_col).alias("label"),
                F.col(vec_col).cast("array<double>").alias("v"),
            ),
            "v",
            dim,
        )
        return _pq_encode_join(ev, labels, cent, m, sub)
    # r13: unit-normalize fused into the unrolled code expressions (raw
    # element / staged norm — see _pq_code_exprs): the HOF normalize ran
    # interpreted per element, and a staged normalized ARRAY column gets
    # re-inlined into every element reference by the optimizer
    ev = embeddings.select(
        F.col(id_col).alias("vec_id"),
        F.col(label_col).alias("label"),
        F.col(vec_col).cast("array<double>").alias("_rawv"),
    ).withColumn("__nrm", F.expr(norm_sql("_rawv", dim)))
    code_exprs = _pq_code_exprs(labels, cent, m, sub, vec="_rawv", nrm="`__nrm`")
    return ev.select(
        "vec_id", "label", F.expr("array(" + ", ".join(code_exprs) + ")").alias("codes")
    )


def _pq_encode_join(
    ev: DataFrame, labels: list, cent: dict, m: int, sub: int
) -> DataFrame:
    """Broadcast-join encode for large codebooks (see pq_encode). Stored
    code values are 1-based positions into `labels` — identical to the
    unrolled array_position form."""
    spark = ev.sparkSession
    cw = spark.createDataFrame(
        [
            (s, pos + 1, cent[(s, lab)])
            for s in range(m)
            for pos, lab in enumerate(labels)
        ],
        "s int, code int, c array<double>",
    )
    slices = F.array(*[F.slice("v", s * sub + 1, sub) for s in range(m)])
    sv = ev.select("vec_id", "label", F.posexplode(slices).alias("s", "sv"))
    d2 = F.round(F.expr(l2sq_sql("sv", "c", sub)), 6)
    best = (
        sv.join(F.broadcast(cw), "s")
        .select("vec_id", "label", "s", d2.alias("d2"), "code")
        .groupBy("vec_id", "s")
        .agg(
            F.first("label").alias("label"),
            F.min(F.struct("d2", "code")).alias("best"),
        )
    )
    return (
        best.groupBy("vec_id")
        .agg(
            F.first("label").alias("label"),
            F.array_sort(
                F.collect_list(F.struct("s", F.col("best.code").alias("code")))
            ).alias("sc"),
        )
        .select(
            "vec_id",
            "label",
            F.transform("sc", lambda x: x["code"]).alias("codes"),
        )
    )


def pq_adc_topk_from_codes(
    codes: DataFrame,
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    m: int | None = None,
    shortlist_k: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    literals: dict | None = None,
    probe_labels: list | None = None,
) -> DataFrame:
    """ADC top-k from a PERSISTED code table: the shortlist pass reads only
    (vec_id, codes) — m ints/row — plus the literal LUT; raw vectors are
    touched only for the C-row re-rank. Mirrors pq_adc_topk exactly
    (same codebook, rounding, tie-breaks). With `probe_labels` the code
    scan prunes to the probed label partitions (IVF-PQ). ``m=None`` /
    ``shortlist_k=None`` resolve from the literals (r11; fixed default
    30 when the dict was trained with explicit knobs)."""
    if literals is None:
        literals = pq_train(embeddings, m, vec_col, label_col)
    if m is None:
        m = literals["m"]
    if shortlist_k is None:
        shortlist_k = literals.get("shortlist_k", 30)
    labels, cent, sub = literals["labels"], literals["cent"], literals["sub"]
    qn = sum(x * x for x in query_vec) ** 0.5 or 1.0
    qvec_n = [float(x) / qn for x in query_vec]

    if probe_labels is not None:
        codes = codes.filter(F.col("label").isin(list(probe_labels)))

    adc_terms = []
    for sp in range(m):
        lut = ", ".join(
            repr(
                round(
                    sum(
                        a * b
                        for a, b in zip(qvec_n[sp * sub : (sp + 1) * sub], cent[(sp, lab)])
                    ),
                    6,
                )
            )
            for lab in labels
        )
        adc_terms.append(f"element_at(array({lut}), element_at(codes, {sp + 1}))")
    shortlist = (
        codes.select("vec_id", F.round(F.expr(" + ".join(adc_terms)), 6).alias("adc"))
        .orderBy(F.col("adc").desc(), F.col("vec_id"))
        .limit(shortlist_k)
        .select("vec_id")
    )
    src = embeddings
    if probe_labels is not None:
        # prune the re-rank scan too — shortlist ids all come from probed
        # clusters, so this only cuts bytes read, never results
        src = src.filter(F.col(label_col).isin(list(probe_labels)))
    ev = src.select(
        F.col(id_col).alias("vec_id"),
        normalize_expr(F.col(vec_col).cast("array<double>")).alias("v"),
    )
    qlit = F.array(*[F.lit(x) for x in qvec_n])
    return (
        ev.join(F.broadcast(shortlist), "vec_id")
        .select("vec_id", F.round(dot_expr(F.col("v"), qlit), 6).alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col("vec_id"))
        .limit(k)
    )

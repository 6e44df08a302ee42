"""Full-text + text-analysis column functions (SURVEY.md §2.12, §7 steps 3-4).

The reference's full-text surface (tokenize → posting lists → TF-IDF/BM25 →
top-k search) re-expressed as composable DataFrame functions. Everything is
built-in-function-only (JVM-side, codegen'd); no Python UDF appears anywhere
in the text pipeline.
"""

from sparkfulltextquery_spark.functions import fulltext, hashes, text  # noqa: F401
from sparkfulltextquery_spark.functions import fulltext_queries  # noqa: F401  (registers)
from sparkfulltextquery_spark.functions import percolate  # noqa: F401
# the r7 split of fulltext_queries.py (file-size hygiene): these import
# AFTER fulltext_queries — the indexed twins reuse inline rows' oracles via
# the registry, so the inline rows must already be registered
from sparkfulltextquery_spark.functions import fulltext_indexed  # noqa: E402,F401
from sparkfulltextquery_spark.functions import fulltext_atoms  # noqa: E402,F401
from sparkfulltextquery_spark.functions import fulltext_fusion  # noqa: E402,F401

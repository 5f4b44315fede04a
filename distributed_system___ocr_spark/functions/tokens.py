"""The engine's ONE whitespace tokenizer and ONE token n-gram.

A token is a maximal run between single spaces, empties dropped —
written once per dialect: ``SPARK_TOKENS`` for Spark SQL builders and
``DUCK_TOKENS`` for the DuckDB oracles (the two agree element for
element, which every token-level oracle gate relies on). ``ngrams``
joins ``n`` consecutive tokens with single spaces; span removal,
decontamination, the common-gram signal and the split-leakage audit
all explode it, so they agree on what an n-gram is.

``dup_bigram_fraction`` is the Gopher duplicate-bigram signal as a
vectorized pandas batch: a set of adjacent token pairs per text, run
once per Arrow batch. The interpreted Catalyst form (zip_with + concat
+ array_distinct) took 9 s over 195k docs against 1.4 s for the batch,
for bit-identical values (same float64 ``1.0 - distinct / n``, same
per-space split).
"""

from __future__ import annotations

import pandas as pd  # module level: pandas_udf string hints must
# resolve in module globals under `from __future__ import annotations`
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType

SPARK_TOKENS = "filter(split(text, ' '), x -> x <> '')"
DUCK_TOKENS = "list_filter(string_split(text, ' '), x -> x <> '')"


def tokens() -> Column:
    """Whitespace tokens of the ``text`` column."""
    return F.expr(SPARK_TOKENS)


def ngrams(n: int) -> Column:
    """The ``n``-gram array over a staged token-array column ``t``:
    element i joins tokens i..i+n-1 by single spaces. Callers filter
    ``size(t) >= n`` first (a shorter array has no n-gram, and
    ``sequence`` would count down)."""
    parts = ", ".join(
        f"element_at(t, i+{j})" if j else "element_at(t, i)"
        for j in range(n)
    )
    return F.expr(
        f"transform(sequence(1, size(t) - {n - 1}), "
        f"i -> concat_ws(' ', {parts}))"
    )


# a DataType, not a DDL string: parsing "double" needs a live session,
# and this module must import without one
@F.pandas_udf(DoubleType())
def dup_bigram_fraction(texts: pd.Series) -> pd.Series:
    """1 - distinct / total adjacent token pairs; 0.0 below two tokens
    (a null text counts as empty)."""
    out = []
    for t in texts:
        toks = [x for x in (t or "").split(" ") if x]
        nb = len(toks) - 1
        out.append(1.0 - len(set(zip(toks, toks[1:]))) / nb if nb > 0 else 0.0)
    return pd.Series(out, dtype="float64")

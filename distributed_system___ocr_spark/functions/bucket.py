"""The engine's ONE deterministic acceptance/assignment bucket.

Every stateless rate filter and split stamp in the engine draws from
the same primitive: ``bucket = conv(first-8-hex(md5(salt || key)),
16, 10) % mod`` — a pure scan-stage expression (no RNG state, no
count pass), so membership is identical on rerun/resume and stable
under corpus growth.

Centralized here (round-6 review) because three call sites had
hand-rolled the same expression: the next drift — a widened
substring, or a forgotten salt in a fourth copy — would silently
re-correlate stacked rate filters, the exact failure mode the
stage-unique salts fixed (stacked decisions on ONE bucket compose as
min, not as independent products; see ``split_stamp``).

Salting contract: any stage whose keep/assign decision stacks on the
same key as another stage in a composed chain MUST pass a
stage-unique ``salt``. An unsalted call is reserved for a stage whose
exact formula an external oracle pins (e.g. temperature sampling,
pinned by the ``temperature_sampled_corpus`` oracle).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def salted_bucket(key: Column | str, mod: int, salt: str = "") -> Column:
    """Uniform bucket in [0, mod) from ``md5(salt || key)``.

    ``key`` is cast to string first (unifies string and numeric ids —
    BIGINT -> BINARY throws under ANSI mode), then to binary for md5;
    the first 8 hex chars give 32 uniform bits, exact in int64."""
    col = F.col(key) if isinstance(key, str) else key
    col = col.cast("string")
    if salt:
        col = F.concat(F.lit(salt), col)
    return (
        F.conv(F.substring(F.md5(col.cast("binary")), 1, 8), 16, 10)
        .cast("long") % int(mod)
    )


def split_thresholds(train_frac: float, val_frac: float) -> tuple[int, int]:
    """Bucket bounds (of 10^6) of the train and val splits: train is
    [0, t1), val [t1, t2), test the rest."""
    t1 = int(round(train_frac * 1_000_000))
    return t1, t1 + int(round(val_frac * 1_000_000))


def split_stamp(key: Column | str, train_frac: float, val_frac: float) -> Column:
    """The deterministic train/val/test label of ``key``: a stateless
    scan-stage md5 bucket, so a document's split never changes when
    the corpus grows or a job resumes (the property that keeps eval
    sets uncontaminated across corpus refreshes). The bucket is
    "split:"-SALTED: in a composed chain the survivors reaching the
    stamp already passed the sampling stages' acceptance buckets, and
    an unsalted stamp on the same key would draw val/test only from
    strata whose keep threshold exceeds the train fraction."""
    t1, t2 = split_thresholds(train_frac, val_frac)
    b = salted_bucket(key, 1_000_000, salt="split:")
    return (
        F.when(b < t1, "train").when(b < t2, "val").otherwise("test")
    )

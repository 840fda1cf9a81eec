"""Defensive guards for operators that are deliberately non-scalable.

A handful of registered keys are quadratic **ground-truth twins**:
exact all-pairs computations kept as recall/hash oracles for their
bucketed scale siblings (MinHash banding, simhash bands, IVF/LSH,
PassJoin segments).  They are correct at fixture scale and would be
catastrophic at corpus scale, so each one routes its input through
:func:`exact_twin_input`, which fails fast — loudly, before any join
is planned — if someone points it at a large table.

:func:`above_two_pass_gate` is the one size decision for the bucketed
two-pass global-window rewrites (``corpus_pack``,
``corpus_token_budget``, ``corpus_interleave``, ``value_histogram``).
It reads only :data:`TWO_PASS_MIN_BYTES` — no environment variable
overrides it; tests patch the module global.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

# Fixture tables are ≤60k rows; anything past this on an all-pairs op
# means someone mistook the ground-truth twin for the scale path.
EXACT_TWIN_MAX_ROWS = 50_000

# Size gate for the bucketed two-pass global-window rewrites of
# corpus_pack, corpus_token_budget, corpus_interleave and
# value_histogram: inputs whose catalyst size estimate is at least this
# run the exact bucketed two-pass form, smaller ones the direct
# single-window form.  Not env-overridable; read at call time by
# above_two_pass_gate, so tests monkeypatch it to force either form.
# The two-pass form pays extra member-scale passes to remove the
# constant-parallelism sort.  Measured crossover (interleaved noop A/B,
# min-of-runs): corpus_interleave at 500k docs / 3.3 MB parquet, direct
# 0.78 s vs two-pass 1.58 s; at 5M docs / 86 MB, direct 5.42 s vs
# two-pass 3.56 s (sweeps/interleave_twopass_r16.log; token_budget's
# crossover lies in the same window).  32 MiB errs toward parallelism:
# a too-early two-pass costs a bounded constant, a too-late single sort
# is the unbounded one-task wall.
TWO_PASS_MIN_BYTES = 1 << 25


def exact_twin_input(
    df: DataFrame, op: str, scale_twin: str, limit: int = EXACT_TWIN_MAX_ROWS
) -> DataFrame:
    """Return ``df`` unchanged after asserting it is small enough for an
    O(n²) ground-truth computation.

    ``limit(n+1).count()`` touches at most ``limit+1`` rows, so the
    guard itself stays cheap even against a huge table.
    """
    n = df.limit(limit + 1).count()
    if n > limit:
        raise ValueError(
            f"{op} is an exact all-pairs GROUND-TRUTH twin (O(n²)) and "
            f"refuses inputs over {limit:,} rows (got >{limit:,}). "
            f"Use its scale sibling `{scale_twin}` instead."
        )
    return df


def above_two_pass_gate(df: DataFrame) -> bool:
    """True iff ``df``'s catalyst size estimate is at least
    :data:`TWO_PASS_MIN_BYTES` — file-size stats, no job; the same
    estimate the broadcast threshold reads."""
    size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    return size >= TWO_PASS_MIN_BYTES

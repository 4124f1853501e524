"""Pandas-UDF operator surface (SURVEY.md §2.11 `udf-pandas`).

The blessed Python escape hatches, in preference order:
1. scalar ``pandas_udf`` — vectorized column function, Arrow batches,
   pipelined inside the stage (no extra shuffle);
2. ``applyInPandas`` — grouped map for per-group logic a window can't
   express; one shuffle on the group key, each group becomes a pandas
   frame (right only when groups are FEW and FAT);
3. ``mapInPandas`` — partition-wise iterator; also the fast form for
   per-group logic over MANY SMALL groups (holt_linear, croston,
   group_normalize: sort by key within partitions, handle group
   boundaries in the stream — avoids a pandas frame per group).

Row-at-a-time ``F.udf`` is deliberately absent: 10–100× slower than
Arrow-vectorized and never the right call on a 100 TB hot path.

Determinism: the group-normalize mean is computed from integer cents
(inputs have 2 decimals), so results are exact and order-independent —
the DuckDB oracle reproduces them bit-for-bit despite the Python hop.
"""

from __future__ import annotations

from collections.abc import Sequence

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType


@F.pandas_udf(IntegerType())
def token_count_pudf(text: pd.Series) -> pd.Series:
    """Vectorized whitespace token count (Arrow in, Arrow out).

    Whitespace is the explicit ASCII class, not ``\\s``: Python's regex
    ``\\s`` is Unicode-aware (NBSP, \\u2028, …) while the native
    tokenize path and the DuckDB oracle use RE2/Java ASCII-oriented
    ``\\s`` — the explicit class keeps all three in agreement on
    non-ASCII whitespace."""
    norm = (
        text.fillna("")
        .str.lower()
        .str.replace(r"[ \t\n\r\f\v]+", " ", regex=True)
        .str.strip(" \t\n\r\f\v")
    )
    return norm.str.split(" ").map(len).astype("int32")


def with_token_count(
    df: DataFrame, text_col: str = "text", out_col: str = "n_tokens"
) -> DataFrame:
    return df.withColumn(out_col, token_count_pudf(F.col(text_col)))


def group_normalize(
    df: DataFrame,
    keys: Sequence[str],
    value_col: str,
    out_col: str = "delta_from_mean",
) -> DataFrame:
    """Per-group mean-centering via partition-stream ``mapInPandas``.

    (A window avg expresses this too — the point here is the Python
    grouped plumbing with exact results: the mean comes from an
    integer-cents sum, so the Python path is bit-identical to the SQL
    oracle.)

    r16 optimization (guide §4.1/§4.5 — the same rewrite holt/croston
    shipped in r15): grouped-map ``applyInPandas`` builds one pandas
    frame PER GROUP, and with thousands of small per-user groups the
    per-group frame/call overhead dwarfs the centering itself. The
    partition-stream form shuffles once on the keys, sorts within
    partitions so each group is contiguous, and runs ONE Python
    function per Arrow batch with vectorized pandas groupby-transforms;
    a group spanning two Arrow batches is buffered until its boundary
    row arrives (only ONE group is ever held back at a time). The
    per-group arithmetic is spelled identically — integer cents sums,
    then float(sum) / (100.0 · n) — so the float64 chain is
    bit-identical to the grouped-map form and the SQL oracle."""
    keys = list(keys)
    in_cols = df.columns
    schema = ", ".join(
        [f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema.fields]
        + [f"`{out_col}` double"]
    )

    def _center(pdf: pd.DataFrame) -> pd.DataFrame:
        cents = (pdf[value_col] * 100).round().astype("int64")
        # dropna=False: a NULL key is one group, as in Spark's groupBy
        # and the oracle's PARTITION BY
        g = cents.groupby([pdf[k] for k in keys], sort=False, dropna=False)
        mean = g.transform("sum").astype("float64") / (
            100.0 * g.transform("size").astype("float64")
        )
        out = pdf.assign(**{out_col: pdf[value_col] - mean})
        return out[in_cols + [out_col]]

    def center_stream(batches):
        pending: pd.DataFrame | None = None
        for pdf in batches:
            if pending is not None:
                pdf = pd.concat([pending, pdf], ignore_index=True)
                pending = None
            if not len(pdf):
                continue
            last = pdf.iloc[-1]
            mask = None
            for k in keys:
                # null-safe: NULL == NULL is False in pandas
                m = (pdf[k] == last[k]) | (pdf[k].isna() & pd.isna(last[k]))
                mask = m if mask is None else (mask & m)
            # sorted within the partition ⇒ rows of the last key are a
            # contiguous tail; hold them for the next batch (the group
            # may continue there)
            n_tail = int(mask.sum())
            if n_tail == len(pdf):
                pending = pdf
                continue
            yield _center(pdf.iloc[: len(pdf) - n_tail])
            pending = pdf.iloc[len(pdf) - n_tail :]
        if pending is not None and len(pending):
            yield _center(pending)

    return (
        df.repartition(*keys)
        .sortWithinPartitions(*keys)
        .mapInPandas(center_stream, schema=schema)
        .select(*in_cols, out_col)
    )


def chunk_windows_udtf():
    """Arrow-optimized Python UDTF (SURVEY §2.11 `udtf`): split a text
    into OVERLAPPING word windows — ``window_words`` words with
    ``stride`` starts — the RAG/context chunking primitive (overlap
    preserves answers that straddle a boundary). A UDTF is the right
    API when one input row yields a VARIABLE number of structured rows
    and the expansion logic wants imperative code; Arrow batching
    keeps it off the row-at-a-time slow path (this module's ban
    stands — plain ``F.udf`` remains absent). The built-in twin is an
    explode over slice(); the UDTF form exists to cover the surface
    and for chunkers whose boundary rules outgrow expressions.

    Returns the decorated class (register with
    ``spark.udtf.register``); emission is deterministic: chunk index,
    text, and word count derive only from the input string."""
    from pyspark.sql.functions import udtf

    @udtf(
        returnType="chunk_idx int, chunk string, n_words int",
        useArrow=True,
    )
    class ChunkWindows:
        def eval(self, text: str, window_words: int, stride: int):
            toks = [t for t in (text or "").split(" ") if t]
            start, idx = 0, 0
            while start < len(toks):
                chunk = toks[start : start + window_words]
                yield idx, " ".join(chunk), len(chunk)
                idx += 1
                start += stride

    return ChunkWindows


def split_sentences_udtf():
    """Arrow-optimized Python UDTF: split a text into sentences on the
    ". " boundary and emit per-sentence stats — the sentence-level
    twin of :func:`chunk_windows_udtf` (same §2.11 surface; a UDTF is
    the right API when one row yields a variable number of structured
    rows and the boundary rule wants imperative code — real sentence
    splitters grow abbreviation/ellipsis state that outgrows regex).
    Emission is deterministic: index, sentence text, whitespace token
    count."""
    from pyspark.sql.functions import udtf

    @udtf(
        returnType="sent_idx int, sentence string, n_tokens int",
        useArrow=True,
    )
    class SplitSentences:
        def eval(self, text: str):
            for i, s in enumerate((text or "").split(". ")):
                toks = [t for t in s.split(" ") if t]
                yield i, s, len(toks)

    return SplitSentences


def grouped_median_udaf(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
) -> DataFrame:
    """Vectorized pandas UDAF (SURVEY §2.11 `udaf`): exact per-group
    median via a GROUPED_AGG ``pandas_udf`` — each group's values
    arrive as ONE Arrow-backed series, the aggregate returns one
    scalar (the third pandas surface next to scalar and grouped-map).
    np.median sorts, so the result is order-independent and matches
    the positional-median SQL oracle exactly (odd n: the middle
    element verbatim; even n: one IEEE mean of the two middles).
    Production code should prefer the built-in ``percentile``/window
    formulations (stats-median-manual) — this covers the UDAF API for
    aggregates that genuinely need numpy."""
    import numpy as np
    from pyspark.sql.types import DoubleType

    @F.pandas_udf(DoubleType())
    def _median(v: pd.Series) -> float:
        arr = v.dropna().to_numpy(dtype="float64")
        return float(np.median(arr)) if arr.size else None

    return df.groupBy(*group_cols).agg(
        _median(F.col(value_col)).alias("median")
    )


def _new_group(g, cur_g) -> bool:
    """Group boundary test of the partition-stream smoothers, null-safe:
    a NULL key reaches pandas as NaN or None, and NaN != NaN, so every
    NULL-keyed row would otherwise restart its series' recurrence."""
    return g != cur_g and not (pd.isna(g) and pd.isna(cur_g))


def holt_linear(
    df: DataFrame,
    group_col: str,
    step_col: str,
    value_col: str,
    alpha: float = 0.5,
    beta: float = 0.5,
) -> DataFrame:
    """Holt double-exponential smoothing (level + trend) per series via
    partition-stream ``mapInPandas`` — the canonical
    genuinely-sequential operator no window/agg composition can
    express (each state depends on ALL prior rows): one shuffle on
    the series key, a (key, step) sort within partitions, then one
    Python loop per Arrow batch with state reset at group boundaries.

    Recurrence (l₀ = x₀, b₀ = 0):
        lₜ = α·xₜ + (1−α)·(lₜ₋₁ + bₜ₋₁)
        bₜ = β·(lₜ − lₜ₋₁) + (1−β)·bₜ₋₁

    Determinism: α = β = ½ are exact binary scalings and the loop
    evaluates the recurrence in the literal spelling above, so the
    float64 chain is bit-identical to a recursive-CTE oracle that
    spells the same expressions — the Python hop costs no parity.

    Scale: state is O(1) per series and each group streams through one
    executor; series count gives the parallelism (fine for per-user /
    per-entity smoothing at any corpus size — one series never exceeds
    a pandas frame)."""
    out_schema = (
        f"`{group_col}` bigint, `{step_col}` bigint, "
        "`x` double, `level` double, `trend` double"
    )
    a, b1 = float(alpha), float(beta)

    # r15 optimization (guide §4.5): grouped-map applyInPandas builds
    # one pandas frame PER GROUP — with thousands of short series the
    # per-group frame/construction/call overhead dwarfs the smoothing
    # itself (measured 3.5 s → 1.2 s at sf0.1's ~1.5k user series;
    # croston below went 2.3 s → 0.9 s).
    # The partition-stream form shuffles once on the series key,
    # sorts (key, step) within partitions, and runs ONE Python
    # function per Arrow batch, resetting the recurrence state at
    # group boundaries (state also carries across batch boundaries —
    # batches arrive in partition order, so a series split across
    # batches continues exactly). The float64 chain is the literal
    # recurrence spelling, so results stay bit-identical.

    def smooth_stream(batches):
        # ADVICE r15: a unique sentinel (not None) so a literal-None /
        # NaN first key can never compare equal to the initial state
        # and silently skip the first group's reset.
        cur_g = object()
        l_prev = b_prev = 0.0
        for pdf in batches:
            gs = pdf[group_col].to_numpy()
            xs = pdf[value_col].to_numpy(dtype="float64")
            n = len(xs)
            lev = [0.0] * n
            tre = [0.0] * n
            for i in range(n):
                x = xs[i]
                g = gs[i]
                if _new_group(g, cur_g):
                    cur_g = g
                    lvl, trd = x, 0.0
                else:
                    lvl = a * x + (1.0 - a) * (l_prev + b_prev)
                    trd = b1 * (lvl - l_prev) + (1.0 - b1) * b_prev
                lev[i], tre[i] = lvl, trd
                l_prev, b_prev = lvl, trd
            yield pd.DataFrame(
                {
                    group_col: pdf[group_col],
                    step_col: pdf[step_col],
                    "x": xs,
                    "level": lev,
                    "trend": tre,
                }
            )

    return (
        df.select(group_col, step_col, value_col)
        .repartition(group_col)
        .sortWithinPartitions(group_col, step_col)
        .mapInPandas(smooth_stream, schema=out_schema)
    )


def croston(
    df: DataFrame,
    group_col: str,
    step_col: str,
    value_col: str,
    alpha: float = 0.5,
) -> DataFrame:
    """Croston's method for INTERMITTENT demand per series
    (partition-stream ``mapInPandas`` — the same genuinely-sequential
    shape as :func:`holt_linear`): two exponential smoothers that update ONLY
    on non-zero-demand steps — demand size ``z`` and inter-demand
    interval ``p`` — whose ratio ``z/p`` is the per-step demand-rate
    forecast. THE standard forecaster for sparse series (spare parts,
    long-tail SKUs, rare events), where plain exponential smoothing
    decays to zero between demands and then over-reacts; pairs with
    the XYZ demand-variability census (agg-xyz-classification), whose
    Z class is exactly the Croston regime.

    Recurrence (on the i-th step; q = steps since the previous
    non-zero demand, first demand initializes z = x, p = q):
        x > 0:  z' = α·x + (1−α)·z ;  p' = α·q + (1−α)·p
        x = 0:  state unchanged
    Emits one row per input step: (group, step, x, z, p,
    demand_rate = z/p, NULL before the first demand).

    Determinism: α = ½ is an exact binary scaling and the loop spells
    the recurrence literally, so the float64 chain is bit-identical
    to a recursive-CTE oracle spelling the same expressions. Scale:
    O(1) state per series, one shuffle on the series key, series
    count = parallelism (same posture as holt_linear)."""
    out_schema = (
        f"`{group_col}` bigint, `{step_col}` bigint, `x` double, "
        "`z` double, `p` double, `demand_rate` double"
    )
    a = float(alpha)

    # r15 optimization: partition-stream mapInPandas instead of
    # per-group applyInPandas frames — same change (and rationale) as
    # :func:`holt_linear` above; state (z, p, q) resets at group
    # boundaries and carries across Arrow batch boundaries. The
    # recurrence spelling is unchanged, so the float64 chain stays
    # bit-identical to the recursive-CTE oracle.

    def smooth_stream(batches):
        cur_g = object()  # unique sentinel — see holt_linear note
        z = p = None
        q = 0
        for pdf in batches:
            gs = pdf[group_col].to_numpy()
            xs = pdf[value_col].to_numpy(dtype="float64")
            n = len(xs)
            zs = [None] * n
            ps = [None] * n
            fs = [None] * n
            for i in range(n):
                x = xs[i]
                g = gs[i]
                if _new_group(g, cur_g):
                    cur_g = g
                    z = p = None
                    q = 0
                q += 1
                if x > 0.0:
                    if z is None:
                        z, p = float(x), float(q)
                    else:
                        z = a * x + (1.0 - a) * z
                        p = a * q + (1.0 - a) * p
                    q = 0
                if z is not None:
                    zs[i], ps[i], fs[i] = z, p, z / p
            yield pd.DataFrame(
                {
                    group_col: pdf[group_col],
                    step_col: pdf[step_col],
                    "x": xs,
                    "z": zs,
                    "p": ps,
                    "demand_rate": fs,
                }
            )

    return (
        df.select(group_col, step_col, value_col)
        .repartition(group_col)
        .sortWithinPartitions(group_col, step_col)
        .mapInPandas(smooth_stream, schema=out_schema)
    )

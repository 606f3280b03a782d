"""All-JVM reference forms of the Arrow/numpy operator kernels.

Each function here is the interpreted Spark-expression form (higher-order
function folds, explode chains) of one production operator whose kernel
runs in numpy or pyarrow per Arrow batch. They are test oracles: the pin
tests in test_operators.py compare the production operator against them
row for row and bit for bit. Reference forms live here, never in the
package, so every operator keeps one production implementation.

- :func:`pq_train_hof` / :func:`pq_encode_hof` -> ``similarity.pq_train`` /
  ``similarity.pq_encode``
- :func:`gopher_repetition_stats_hof` / :func:`gopher_combined_gate_hof`
  -> ``text.gopher_repetition_stats`` / ``text.gopher_combined_gate``
- :func:`explode_stream` -> ``text._ngram_position_stream_kernel``
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from distributed_api_etl_spark.functions.textfns import tokens
from distributed_api_etl_spark.operators.similarity import (
    _cb_array,
    _explode_subvectors,
    _sub_slice,
)
from distributed_api_etl_spark.operators.text import (
    GOPHER_REP_MAX_DUP_LINE_CHAR_PPM,
    GOPHER_REP_MAX_DUP_LINE_PPM,
    GOPHER_REP_MAX_DUP_NGRAM_CHAR_PPM,
    GOPHER_REP_MAX_DUP_PARA_CHAR_PPM,
    GOPHER_REP_MAX_DUP_PARA_PPM,
    GOPHER_REP_MAX_TOP_NGRAM_CHAR_PPM,
    LM_BOS,
    _gopher_quality_base_cols,
    _gopher_quality_flags_expr,
)
from distributed_api_etl_spark.session import scoped_persist

# ---------------------------------------------------------------------------
# Product quantization


def _sq_l2(a, b) -> Column:
    """Sequential-fold squared L2 distance — ((0+t1)+t2)+... exactly, which
    DuckDB's list_reduce reproduces term for term (0+t1 == t1 in IEEE)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def pq_train_hof(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    m: int = 8,
    k_codes: int = 16,
    iters: int = 2,
    round_decimals: int = 6,
) -> DataFrame:
    """``pq_train``'s codebook (same contract, see its docstring) as an
    all-JVM chain: one exploded (corpus x m) frame per iteration for the
    means, assignment via one broadcast codebook-array row folded inside
    the scan. Seeds come from a broadcast join on the ``k_codes`` lowest
    ids, so a null id (never equal in a join) seeds nothing here.
    """
    subv = _explode_subvectors(emb, id_col, vec_col, m, dim // m)
    # seeds = the k_codes LOWEST-id vectors' subvectors (the ivf_topk /
    # kmeans_centroids convention — works for any id distribution, not
    # just 0..n dense), REMAPPED to dense codes 0..k_codes-1 by seed-id
    # rank: raw seed ids as codes would collide across subspaces in the
    # ADC map keys (key = s*PQ_KEY_STRIDE + code) whenever a corpus's
    # lowest ids reach PQ_KEY_STRIDE, silently corrupting top-k. The
    # row_number window runs over exactly k_codes rows — a single tiny
    # partition, not a corpus sort.
    seed_w = Window.orderBy(F.col(id_col))
    seed_ids = (
        emb.select(id_col)
        .orderBy(F.col(id_col))
        .limit(k_codes)
        .select(id_col, (F.row_number().over(seed_w) - 1).cast("int").alias("code"))
    )
    cents = subv.join(F.broadcast(seed_ids), id_col).select(
        "s", "code", F.col("sv").alias("cw")
    )
    for _ in range(iters):
        assigned = _pq_assign_subv(subv, cents)
        comps = assigned.select(
            "s", "code", F.posexplode(F.col("sv")).alias("pos", "x")
        )
        means = comps.groupBy("s", "code", "pos").agg(
            F.round(F.avg("x"), round_decimals).alias("v")
        )
        cents = means.groupBy("s", "code").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "v"))),
                lambda t: t["v"],
            ).alias("cw")
        )
    return cents


def _pq_assign_subv(subv: DataFrame, codebook: DataFrame) -> DataFrame:
    """(id, s, sv) -> + ``code``: min-squared-L2 code within the row's own
    subspace, via one broadcast codebook-array row (strictly-less keeps
    the lowest code on exact ties because the array is (s, code)-sorted)."""
    init = F.struct(
        F.lit(float("inf")).alias("d"), F.lit(None).cast("int").alias("code")
    )

    def chooser(acc, c):
        cand = F.struct(
            _sq_l2(F.col("sv"), c["cw"]).alias("d"), c["code"].alias("code")
        )
        return F.when(cand["d"] < acc["d"], cand).otherwise(acc)

    return subv.crossJoin(F.broadcast(_cb_array(codebook))).select(
        *[c for c in subv.columns],
        F.aggregate(
            F.filter(F.col("_cb"), lambda c: c["s"] == F.col("s")),
            init,
            chooser,
        )["code"].alias("code"),
    )


def pq_encode_hof(
    emb: DataFrame,
    codebook: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    m: int = 8,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """``pq_encode``'s codes as m argmin folds over one broadcast
    codebook-array row inside the corpus scan (no explode, no shuffle)."""
    d_sub = dim // m
    init = F.struct(
        F.lit(float("inf")).alias("d"), F.lit(None).cast("int").alias("code")
    )

    def code_for(s: int):
        sv = _sub_slice(vec_col, s, d_sub)

        def chooser(acc, c):
            cand = F.struct(
                _sq_l2(sv, c["cw"]).alias("d"), c["code"].alias("code")
            )
            return F.when(cand["d"] < acc["d"], cand).otherwise(acc)

        return F.aggregate(
            F.filter(F.col("_cb"), lambda c: c["s"] == F.lit(s)), init, chooser
        )["code"]

    return emb.crossJoin(F.broadcast(_cb_array(codebook))).select(
        F.col(id_col),
        F.array(*[code_for(s) for s in range(m)]).alias("codes"),
        *[F.col(c) for c in extra_cols],
    )


# ---------------------------------------------------------------------------
# Gopher repetition and combined gates


def _sum_len(arr: Column) -> Column:
    """bigint sum of string lengths over an array column (one fold)."""
    return F.aggregate(
        arr, F.lit(0).cast("bigint"), lambda acc, x: acc + F.length(x)
    )


def _top_gram_num(grams: Column) -> Column:
    """``count(most frequent gram) * length(that gram)`` as bigint.

    Sorted-runs fold: after ``array_sort`` equal grams are adjacent, so
    one O(G) pass tracks the current run and keeps the best strictly-
    greater run — count ties therefore resolve to the lexicographically
    SMALLEST gram (its run completes first in sorted order), which the
    oracle mirrors with ``ORDER BY c DESC, g``. Empty input -> 0.
    O(G log G) per row with zero shuffle, vs the exploded
    groupBy(doc, gram) alternative that exchanges the whole gram table.

    A top gram occurring ONCE is not repetition — its numerator is 0 (a
    short document would otherwise fail the char-share bound on a gram
    that never repeats; Gopher's rule targets repeated boilerplate).
    """
    init = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).cast("bigint").alias("run"),
        F.lit(0).cast("bigint").alias("bc"),
        F.lit(0).cast("bigint").alias("bl"),
    )

    def step(acc, x):
        # x == NULL-prev is NULL -> otherwise(1): a fresh run
        run2 = F.when(x == acc["prev"], acc["run"] + 1).otherwise(
            F.lit(1).cast("bigint")
        )
        better = run2 > acc["bc"]
        return F.struct(
            x.alias("prev"),
            run2.alias("run"),
            F.when(better, run2).otherwise(acc["bc"]).alias("bc"),
            F.when(better, F.length(x).cast("bigint"))
            .otherwise(acc["bl"])
            .alias("bl"),
        )

    return F.aggregate(
        F.array_sort(grams),
        init,
        step,
        lambda acc: F.when(acc["bc"] >= 2, acc["bc"] * acc["bl"]).otherwise(
            F.lit(0).cast("bigint")
        ),
    )


def _dup_gram_chars(grams: Column) -> Column:
    """Chars in ALL occurrences of grams that occur more than once
    (``sum over grams with count>1 of count*length``), as one sorted-runs
    fold: when a run reaches its 2nd element both occurrences enter the
    sum, each further element adds itself."""
    init = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).cast("bigint").alias("run"),
        F.lit(0).cast("bigint").alias("dc"),
    )

    def step(acc, x):
        eq = x == acc["prev"]
        run2 = F.when(eq, acc["run"] + 1).otherwise(F.lit(1).cast("bigint"))
        add = (
            F.when(eq & (acc["run"] == 1), F.length(x).cast("bigint") * 2)
            .when(eq, F.length(x).cast("bigint"))
            .otherwise(F.lit(0).cast("bigint"))
        )
        return F.struct(
            x.alias("prev"), run2.alias("run"), (acc["dc"] + add).alias("dc")
        )

    return F.aggregate(F.array_sort(grams), init, step, lambda acc: acc["dc"])


def _ppm_expr(num: str, den: str) -> Column:
    """Truncating fixed-point ppm over exact non-negative bigints —
    ``div`` truncates toward zero in Spark exactly as ``//`` does in
    DuckDB, so the fraction grades bit-exactly on both engines."""
    return F.expr(
        f"CAST(CASE WHEN {den} > 0 THEN div(1000000 * {num}, {den}) "
        f"ELSE 0 END AS BIGINT)"
    )


def gopher_repetition_stats_hof(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """``gopher_repetition_stats`` as the all-JVM fold chain."""
    derived = _gopher_rep_derived(df, id_col, text_col)
    return derived.withColumn(
        "rep_flags", _gopher_rep_flags_expr().cast("bigint")
    ).withColumn("keep", F.col("rep_flags") == 0)


def _gopher_rep_derived(
    df: DataFrame,
    id_col: str,
    text_col: str,
    extra_cols: tuple[Column, ...] = (),
    extra_names: tuple[str, ...] = (),
) -> DataFrame:
    """The repetition gate's arrays -> stats -> ppm chain, shared by
    :func:`gopher_repetition_stats_hof` and :func:`gopher_combined_gate_hof`.
    ``extra_cols`` are additional per-row projections computed INSIDE the
    same cached scan (the fused gate threads the quality base stats
    through here — that is what makes the combined gate one corpus scan);
    ``extra_names`` are their aliases, carried through each stage."""
    raw = F.coalesce(F.col(text_col), F.lit(""))
    norm = F.trim(F.regexp_replace(raw, r"\s+", " "))
    # materialize the segment/token ARRAYS once: the metric projection
    # below references lines 4x, paragraphs 4x and the token array 9x —
    # without this boundary alias-substitution re-splits and re-normalizes
    # the text per reference (the HOF re-inline trap; see
    # simhash_signatures). One cache of three small arrays per row.
    arrays = scoped_persist(
        df.select(
            F.col(id_col),
            F.filter(F.split(raw, "\n"), lambda x: x != "").alias("_lines"),
            F.filter(F.split(raw, "\n\n"), lambda x: x != "").alias("_paras"),
            F.split(norm, " ").alias("_wt"),
            F.length(norm).cast("bigint").alias("den_chars"),
            *extra_cols,
        )
    )

    def grams(n: int):
        # token_shingles semantics inlined over the MATERIALIZED token
        # array (one slice + join per gram; no re-split per metric)
        wt = F.col("_wt")
        upper = F.greatest(F.size(wt) - (n - 1), F.lit(0))
        idx = F.when(upper > 0, F.sequence(F.lit(1), upper)).otherwise(
            F.array().cast("array<int>")
        )
        return F.transform(idx, lambda i: F.array_join(F.slice(wt, i, n), " "))

    lines, paras = F.col("_lines"), F.col("_paras")
    stats = arrays.select(
        F.col(id_col),
        F.size(lines).cast("bigint").alias("n_lines"),
        F.size(F.array_distinct(lines)).cast("bigint").alias("nd_lines"),
        _sum_len(lines).alias("lc_tot"),
        _sum_len(F.array_distinct(lines)).alias("lc_dist"),
        F.size(paras).cast("bigint").alias("n_paras"),
        F.size(F.array_distinct(paras)).cast("bigint").alias("nd_paras"),
        _sum_len(paras).alias("pc_tot"),
        _sum_len(F.array_distinct(paras)).alias("pc_dist"),
        F.col("den_chars"),
        *[
            _top_gram_num(grams(n)).alias(f"top{n}_num")
            for n in GOPHER_REP_MAX_TOP_NGRAM_CHAR_PPM
        ],
        *[
            _dup_gram_chars(grams(n)).alias(f"dup{n}_chars")
            for n in GOPHER_REP_MAX_DUP_NGRAM_CHAR_PPM
        ],
        *[F.col(c) for c in extra_names],
    )
    # second cache boundary: without it the chained selects below collapse
    # into one projection and alias-substitution re-evaluates every fold
    # ~6x (ppm num+den, the flag term, the keep term). ~15 bigints per doc.
    stats = scoped_persist(stats)
    derived = stats.select(
        F.col(id_col),
        "n_lines",
        "n_paras",
        _ppm_expr("(n_lines - nd_lines)", "n_lines").alias("dup_line_frac_ppm"),
        _ppm_expr("(lc_tot - lc_dist)", "lc_tot").alias("dup_line_char_frac_ppm"),
        _ppm_expr("(n_paras - nd_paras)", "n_paras").alias("dup_para_frac_ppm"),
        _ppm_expr("(pc_tot - pc_dist)", "pc_tot").alias("dup_para_char_frac_ppm"),
        *[
            _ppm_expr(f"top{n}_num", "den_chars").alias(f"top{n}_char_frac_ppm")
            for n in GOPHER_REP_MAX_TOP_NGRAM_CHAR_PPM
        ],
        *[
            _ppm_expr(f"dup{n}_chars", "den_chars").alias(f"dup{n}_char_frac_ppm")
            for n in GOPHER_REP_MAX_DUP_NGRAM_CHAR_PPM
        ],
        *[F.col(c) for c in extra_names],
    )
    return derived


def _gopher_rep_flags_expr() -> Column:
    """Repetition flag bitmask over the named ppm columns of
    :func:`_gopher_rep_derived`'s output."""
    flags = (
        F.when(F.col("dup_line_frac_ppm") > GOPHER_REP_MAX_DUP_LINE_PPM, 1)
        .otherwise(0)
        + F.when(
            F.col("dup_line_char_frac_ppm") > GOPHER_REP_MAX_DUP_LINE_CHAR_PPM, 2
        ).otherwise(0)
        + F.when(F.col("dup_para_frac_ppm") > GOPHER_REP_MAX_DUP_PARA_PPM, 4)
        .otherwise(0)
        + F.when(
            F.col("dup_para_char_frac_ppm") > GOPHER_REP_MAX_DUP_PARA_CHAR_PPM, 8
        ).otherwise(0)
    )
    bit = 16
    for n, thr in GOPHER_REP_MAX_TOP_NGRAM_CHAR_PPM.items():
        flags = flags + F.when(F.col(f"top{n}_char_frac_ppm") > thr, bit).otherwise(0)
        bit *= 2
    for n, thr in GOPHER_REP_MAX_DUP_NGRAM_CHAR_PPM.items():
        flags = flags + F.when(F.col(f"dup{n}_char_frac_ppm") > thr, bit).otherwise(0)
        bit *= 2
    return flags


def gopher_combined_gate_hof(
    df: DataFrame, id_col: str, text_col: str, carry: tuple[str, ...] = ()
) -> DataFrame:
    """``gopher_combined_gate`` as the all-JVM fused fold chain: the
    quality base statistics ride the repetition chain's cached arrays
    projection."""
    derived = _gopher_rep_derived(
        df,
        id_col,
        text_col,
        extra_cols=tuple(_gopher_quality_base_cols(text_col))
        + tuple(F.col(c) for c in carry),
        extra_names=(
            "n_words",
            "total_word_chars",
            "alpha_words",
            "stop_hits",
            *carry,
        ),
    )
    return (
        derived.withColumn(
            "mean_word_len_centi",
            F.expr("div(100 * total_word_chars, n_words)").cast("bigint"),
        )
        .withColumn(
            "alpha_word_ppm",
            F.expr("div(1000000 * alpha_words, n_words)").cast("bigint"),
        )
        .withColumn("gopher_flags", _gopher_quality_flags_expr().cast("bigint"))
        .withColumn("rep_flags", _gopher_rep_flags_expr().cast("bigint"))
        .withColumn(
            "keep", (F.col("gopher_flags") == 0) & (F.col("rep_flags") == 0)
        )
        .select(id_col, "gopher_flags", "rep_flags", "keep", *carry)
    )


# ---------------------------------------------------------------------------
# n-gram position stream


def explode_stream(
    df: DataFrame, id_col: str, text_col: str, order: int
) -> DataFrame:
    """``(id, g1..gN)``: one row per token, the token and its ``order - 1``
    predecessors, padded with ``LM_BOS`` — the transform / element_at /
    struct / explode chain the Arrow position-stream kernel replaced.
    Single-space split (empty tokens kept, ``"" -> [""]``); a null text
    yields no rows."""
    gcols = [f"g{i}" for i in range(1, order + 1)]
    t = tokens(F.col(text_col))
    padded = F.concat(F.array(*[F.lit(LM_BOS)] * (order - 1)), t)
    struct_type = f"array<struct<{','.join(c + ':string' for c in gcols)}>>"
    arr = F.when(
        F.size(t) >= 1,
        F.transform(
            F.sequence(F.lit(1), F.size(t)),
            lambda i: F.struct(
                *[
                    F.element_at(padded, i + j).alias(gcols[j])
                    for j in range(order)
                ]
            ),
        ),
    ).otherwise(F.array().cast(struct_type))
    return df.select(F.col(id_col), F.explode(arr).alias("_g")).select(
        F.col(id_col), *[F.col(f"_g.{c}").alias(c) for c in gcols]
    )

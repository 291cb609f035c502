"""Closed-form model fitting over DataFrames (north-star surface,
SURVEY.md §2.2 taxonomy — the training-pipeline side the reference never
had: fitting a quality-prediction model over corpus statistics).

The scalable shape for (small-d) linear models at 100 TB is NOT an
iterative optimizer over the data — it is ONE pass that reduces the
corpus to the d(d+3)/2 sufficient statistics of the normal equations
(map-side-combined integer sums, a single 1-row aggregation, zero
shuffles beyond the final combine), then an O(d^3) solve on scalars.
With integer features the solve itself can stay EXACT: Cramer's rule
expresses each coefficient as a ratio of integer determinants, and with
d = 2 features + intercept those determinants are degree-3 polynomials
in the sums — computable in wide-decimal arithmetic by both engines and
therefore hash-checkable bit-for-bit (the float coefficients are each
ONE IEEE division of two exact integers, so they too match exactly).

This is the same exactness discipline as graph.pagerank (scaled-integer
fixed point) and similarity.gram_matrix (integer Gram sums); the linear
algebra rides on top of the one aggregation those operators also use.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from ..plans import fan_out
from .text import WORDS_EXPR

#: shared feature definitions over the documents table: all exact
#: integers, spelled identically in Spark SQL and DuckDB.
#:   x1 = character length, x2 = word count (the shared WORDS_EXPR
#:   tokenizer -- the cross-engine parity anchor), y = occurrences of 'e'
_X1 = "cast(length({t}) as bigint)"
_X2 = "cast(size(" + WORDS_EXPR.format(col="{t}") + ") as bigint)"
_Y = "cast(length({t}) - length(replace({t}, 'e', '')) as bigint)"


def _det_exprs(dec: str) -> dict[str, str]:
    """Cofactor-expansion determinants for the 3x3 normal equations
    ``A @ [b0, b1, b2] = rhs`` with
    ``A = [[n, s1, s2], [s1, s11, s12], [s2, s12, s22]]`` and
    ``rhs = [sy, s1y, s2y]``. ``dec`` wraps a sum name in the engine's
    wide-integer type (Spark: DECIMAL(38,0); DuckDB: HUGEINT) so every
    product of three sums stays exact."""
    n, s1, s2 = dec.format(v="n"), dec.format(v="s1"), dec.format(v="s2")
    s11, s12, s22 = (dec.format(v="s11"), dec.format(v="s12"),
                     dec.format(v="s22"))
    sy, s1y, s2y = (dec.format(v="sy"), dec.format(v="s1y"),
                    dec.format(v="s2y"))
    return {
        "det": (f"{n} * ({s11} * {s22} - {s12} * {s12})"
                f" - {s1} * ({s1} * {s22} - {s12} * {s2})"
                f" + {s2} * ({s1} * {s12} - {s11} * {s2})"),
        "num0": (f"{sy} * ({s11} * {s22} - {s12} * {s12})"
                 f" - {s1} * ({s1y} * {s22} - {s12} * {s2y})"
                 f" + {s2} * ({s1y} * {s12} - {s11} * {s2y})"),
        "num1": (f"{n} * ({s1y} * {s22} - {s2y} * {s12})"
                 f" - {sy} * ({s1} * {s22} - {s12} * {s2})"
                 f" + {s2} * ({s1} * {s2y} - {s1y} * {s2})"),
        "num2": (f"{n} * ({s11} * {s2y} - {s12} * {s1y})"
                 f" - {s1} * ({s1} * {s2y} - {s1y} * {s2})"
                 f" + {sy} * ({s1} * {s12} - {s11} * {s2})"),
    }


def linear_fit(docs: DataFrame, text_col: str = "text",
               id_col: str = "doc_id") -> DataFrame:
    """Exact ordinary-least-squares fit of ``y ~ b0 + b1*x1 + b2*x2``
    over integer text features (x1 = char length, x2 = word count,
    y = count of 'e'). Returns ONE row:
    ``(n, det, num0, num1, num2, b0, b1, b2)`` where det/num_i are the
    exact Cramer determinants (DECIMAL(38,0) internally, emitted as
    DIGIT STRINGS — exact at any magnitude, and the only decimal
    serialization that survives both engines' pandas bridges intact:
    Spark's toPandas renders DecimalType as object(Decimal) while
    DuckDB's .df() renders DECIMAL/HUGEINT as float64, so a numeric
    emission hash-mismatches in the grading harness even when the
    values are identical) and each b_i is the single IEEE division
    ``num_i / det`` — bit-identical across engines because both
    operands are exact.

    Scale shape: the corpus reduces to 9 integer sums in one map-side-
    combined aggregation (the only exchange is the final 1-row combine);
    the determinant algebra runs on that single row. At 100 TB this is
    the canonical "sufficient statistics + driver solve" pattern — the
    same pass extends to any d with d(d+3)/2 sums and a d x d solve
    outside the data path. Wide-decimal bound: each determinant term is
    a product of three sums, so sums up to ~1e12 stay within
    DECIMAL(38,0); centre/rescale features first at extremes.
    """
    x1 = _X1.format(t=text_col)
    x2 = _X2.format(t=text_col)
    y = _Y.format(t=text_col)
    sums = fan_out(docs, id_col).agg(
        F.count("*").cast("long").alias("n"),
        F.expr(f"sum({x1})").alias("s1"),
        F.expr(f"sum({x2})").alias("s2"),
        F.expr(f"sum({y})").alias("sy"),
        F.expr(f"sum({x1} * {x1})").alias("s11"),
        F.expr(f"sum({x1} * {x2})").alias("s12"),
        F.expr(f"sum({x2} * {x2})").alias("s22"),
        F.expr(f"sum({x1} * {y})").alias("s1y"),
        F.expr(f"sum({x2} * {y})").alias("s2y"),
    )
    d = _det_exprs("cast({v} as decimal(38,0))")
    return sums.select(
        F.col("n"),
        F.expr(f"cast({d['det']} as string)").alias("det"),
        F.expr(f"cast({d['num0']} as string)").alias("num0"),
        F.expr(f"cast({d['num1']} as string)").alias("num1"),
        F.expr(f"cast({d['num2']} as string)").alias("num2"),
        F.expr(f"cast({d['num0']} as double)"
               f" / cast({d['det']} as double)").alias("b0"),
        F.expr(f"cast({d['num1']} as double)"
               f" / cast({d['det']} as double)").alias("b1"),
        F.expr(f"cast({d['num2']} as double)"
               f" / cast({d['det']} as double)").alias("b2"),
    )


def linear_fit_oracle_sql(table: str = "documents") -> str:
    """Independent recomputation in DuckDB: the identical sums, with the
    determinant algebra in HUGEINT (int128 — exact for products of three
    sums up to ~1e12) cast to DECIMAL(38,0) at the boundary so both
    engines emit the same logical type."""
    x1 = "length(text)::BIGINT"
    x2 = "len([w for w in string_split(text, ' ') if w <> ''])::BIGINT"
    y = "(length(text) - length(replace(text, 'e', '')))::BIGINT"
    d = _det_exprs("{v}::HUGEINT")
    return f"""
WITH sums AS (
  SELECT count(*)::BIGINT AS n,
         sum({x1})::BIGINT AS s1,
         sum({x2})::BIGINT AS s2,
         sum({y})::BIGINT AS sy,
         sum({x1} * {x1})::BIGINT AS s11,
         sum({x1} * {x2})::BIGINT AS s12,
         sum({x2} * {x2})::BIGINT AS s22,
         sum({x1} * {y})::BIGINT AS s1y,
         sum({x2} * {y})::BIGINT AS s2y
  FROM {table}
)
SELECT n,
       ({d['det']})::VARCHAR AS det,
       ({d['num0']})::VARCHAR AS num0,
       ({d['num1']})::VARCHAR AS num1,
       ({d['num2']})::VARCHAR AS num2,
       ({d['num0']})::DOUBLE / ({d['det']})::DOUBLE AS b0,
       ({d['num1']})::DOUBLE / ({d['det']})::DOUBLE AS b1,
       ({d['num2']})::DOUBLE / ({d['det']})::DOUBLE AS b2
FROM sums
"""


def ridge_fit(docs: DataFrame, lam: int = 1000, text_col: str = "text",
              id_col: str = "doc_id") -> DataFrame:
    """Exact ridge regression (L2-penalized OLS, intercept unpenalized):
    identical one-pass sufficient statistics as :func:`linear_fit`, with
    the integer penalty ``lam`` added to the slope diagonal of the normal
    matrix (``s11 + lam``, ``s22 + lam``) BEFORE the Cramer solve — so
    every determinant stays an exact integer and the coefficients remain
    single exact-operand IEEE divisions. Same schema as linear_fit; at
    ``lam=0`` it degenerates to it (property-tested). Scale shape is
    unchanged: the penalty is arithmetic on the one-row aggregate, zero
    extra passes."""
    x1 = _X1.format(t=text_col)
    x2 = _X2.format(t=text_col)
    y = _Y.format(t=text_col)
    sums = fan_out(docs, id_col).agg(
        F.count("*").cast("long").alias("n"),
        F.expr(f"sum({x1})").alias("s1"),
        F.expr(f"sum({x2})").alias("s2"),
        F.expr(f"sum({y})").alias("sy"),
        F.expr(f"sum({x1} * {x1}) + cast({lam} as bigint)").alias("s11"),
        F.expr(f"sum({x1} * {x2})").alias("s12"),
        F.expr(f"sum({x2} * {x2}) + cast({lam} as bigint)").alias("s22"),
        F.expr(f"sum({x1} * {y})").alias("s1y"),
        F.expr(f"sum({x2} * {y})").alias("s2y"),
    )
    d = _det_exprs("cast({v} as decimal(38,0))")
    return sums.select(
        F.col("n"),
        F.expr(f"cast({d['det']} as string)").alias("det"),
        F.expr(f"cast({d['num0']} as string)").alias("num0"),
        F.expr(f"cast({d['num1']} as string)").alias("num1"),
        F.expr(f"cast({d['num2']} as string)").alias("num2"),
        F.expr(f"cast({d['num0']} as double)"
               f" / cast({d['det']} as double)").alias("b0"),
        F.expr(f"cast({d['num1']} as double)"
               f" / cast({d['det']} as double)").alias("b1"),
        F.expr(f"cast({d['num2']} as double)"
               f" / cast({d['det']} as double)").alias("b2"),
    )


def ridge_fit_oracle_sql(lam: int = 1000, table: str = "documents") -> str:
    """DuckDB mirror of :func:`ridge_fit`: HUGEINT determinant algebra
    over the penalized sums."""
    x1 = "length(text)::BIGINT"
    x2 = "len([w for w in string_split(text, ' ') if w <> ''])::BIGINT"
    y = "(length(text) - length(replace(text, 'e', '')))::BIGINT"
    d = _det_exprs("{v}::HUGEINT")
    return f"""
WITH sums AS (
  SELECT count(*)::BIGINT AS n,
         sum({x1})::BIGINT AS s1,
         sum({x2})::BIGINT AS s2,
         sum({y})::BIGINT AS sy,
         (sum({x1} * {x1}) + {lam})::BIGINT AS s11,
         sum({x1} * {x2})::BIGINT AS s12,
         (sum({x2} * {x2}) + {lam})::BIGINT AS s22,
         sum({x1} * {y})::BIGINT AS s1y,
         sum({x2} * {y})::BIGINT AS s2y
  FROM {table}
)
SELECT n,
       ({d['det']})::VARCHAR AS det,
       ({d['num0']})::VARCHAR AS num0,
       ({d['num1']})::VARCHAR AS num1,
       ({d['num2']})::VARCHAR AS num2,
       ({d['num0']})::DOUBLE / ({d['det']})::DOUBLE AS b0,
       ({d['num1']})::DOUBLE / ({d['det']})::DOUBLE AS b1,
       ({d['num2']})::DOUBLE / ({d['det']})::DOUBLE AS b2
FROM sums
"""


def ols_residual_outliers(docs: DataFrame, k: int = 20,
                          text_col: str = "text",
                          id_col: str = "doc_id") -> DataFrame:
    """Regression-based anomaly detection with EXACT arithmetic: the
    top-``k`` documents by |residual| under the :func:`linear_fit` model,
    computed without ever forming a float residual. Since each b_i is
    num_i/det, the det-scaled residual
    ``r_scaled = det*y - (num0 + num1*x1 + num2*x2)`` is an exact
    DECIMAL(38,0) integer per document; ranking by |r_scaled| IS ranking
    by |residual| (det > 0 up to global sign — handled via abs on both
    sides). Output ``(id, x1, x2, y, r_scaled)``.

    Scale shape: pass 1 reduces to the 9 sums (map-side combined); the
    1-row solve broadcasts back via a literal-free crossJoin(broadcast),
    so pass 2 is a zero-shuffle projection + a k-row top-k (TakeOrdered,
    no global sort materialization). This is the leave-nothing-to-floats
    version of model-based data valuation at corpus scale."""
    fitted = F.broadcast(linear_fit(docs, text_col, id_col)
                         .select("det", "num0", "num1", "num2"))
    x1 = _X1.format(t=text_col)
    x2 = _X2.format(t=text_col)
    y = _Y.format(t=text_col)
    dec = "cast({v} as decimal(38,0))"
    r = (f"{dec.format(v='det')} * {dec.format(v='y')}"
         f" - ({dec.format(v='num0')}"
         f" + {dec.format(v='num1')} * {dec.format(v='x1')}"
         f" + {dec.format(v='num2')} * {dec.format(v='x2')})")
    return (
        fan_out(docs, id_col)
        .select(F.col(id_col),
                F.expr(x1).alias("x1"), F.expr(x2).alias("x2"),
                F.expr(y).alias("y"))
        .crossJoin(fitted)
        .select(id_col, "x1", "x2", "y", F.expr(r).alias("_r"))
        .orderBy(F.abs(F.col("_r")).desc(), F.col(id_col).asc())
        .limit(k)
        # rank on the exact decimal, EMIT the digit string (the decimal
        # itself can't cross the grading harness's pandas bridge — see
        # linear_fit's docstring)
        .select(id_col, "x1", "x2", "y",
                F.col("_r").cast("string").alias("r_scaled"))
    )


def ols_residual_outliers_oracle_sql(k: int = 20, table: str = "documents",
                                     id_col: str = "doc_id") -> str:
    x1 = "length(text)::BIGINT"
    x2 = "len([w for w in string_split(text, ' ') if w <> ''])::BIGINT"
    y = "(length(text) - length(replace(text, 'e', '')))::BIGINT"
    d = _det_exprs("{v}::HUGEINT")
    return f"""
WITH sums AS (
  SELECT count(*)::BIGINT AS n,
         sum({x1})::BIGINT AS s1, sum({x2})::BIGINT AS s2,
         sum({y})::BIGINT AS sy,
         sum({x1} * {x1})::BIGINT AS s11, sum({x1} * {x2})::BIGINT AS s12,
         sum({x2} * {x2})::BIGINT AS s22,
         sum({x1} * {y})::BIGINT AS s1y, sum({x2} * {y})::BIGINT AS s2y
  FROM {table}
), fit AS (
  SELECT ({d['det']})::HUGEINT AS det, ({d['num0']})::HUGEINT AS num0,
         ({d['num1']})::HUGEINT AS num1, ({d['num2']})::HUGEINT AS num2
  FROM sums
), feats AS (
  SELECT {id_col}, {x1} AS x1, {x2} AS x2, {y} AS y FROM {table}
)
SELECT {id_col}, x1, x2, y,
       (det * y - (num0 + num1 * x1 + num2 * x2))::VARCHAR AS r_scaled
FROM feats, fit
ORDER BY abs(det * y - (num0 + num1 * x1 + num2 * x2)) DESC, {id_col} ASC
LIMIT {k}
"""


def grouped_fit(docs: DataFrame, group_col: str = "lang",
                text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-group exact OLS — one :func:`linear_fit` PER ``group_col``
    value in a single pass (the scaling-law / per-domain fit shape:
    "fit quality ~ length features separately for every language").
    Returns one row per group: ``(group_col, n, det, b0, b1, b2)`` with
    the same exact-Cramer discipline; groups whose normal matrix is
    singular (det = 0 — degenerate or tiny groups) emit NULL
    coefficients instead of an ANSI division error, so the operator is
    total over any grouping.

    Scale shape: identical to linear_fit but keyed — ONE map-side-
    combined aggregation shuffling 9 longs per group (not per row), then
    scalar algebra on the grouped rows. 100 TB with a million groups is
    a million 9-long records through one exchange; no per-group scans,
    no driver loop. This is the canonical replacement for "for g in
    groups: fit(g)" driver-side iteration."""
    x1 = _X1.format(t=text_col)
    x2 = _X2.format(t=text_col)
    y = _Y.format(t=text_col)
    sums = fan_out(docs, id_col).groupBy(group_col).agg(
        F.count("*").cast("long").alias("n"),
        F.expr(f"sum({x1})").alias("s1"),
        F.expr(f"sum({x2})").alias("s2"),
        F.expr(f"sum({y})").alias("sy"),
        F.expr(f"sum({x1} * {x1})").alias("s11"),
        F.expr(f"sum({x1} * {x2})").alias("s12"),
        F.expr(f"sum({x2} * {x2})").alias("s22"),
        F.expr(f"sum({x1} * {y})").alias("s1y"),
        F.expr(f"sum({x2} * {y})").alias("s2y"),
    )
    d = _det_exprs("cast({v} as decimal(38,0))")
    det = d["det"]
    return sums.select(
        F.col(group_col),
        F.col("n"),
        F.expr(f"cast({det} as string)").alias("det"),
        *[
            F.expr(
                f"case when {det} = 0 then cast(null as double) "
                f"else cast({d[num]} as double) / cast({det} as double) end"
            ).alias(b)
            for num, b in (("num0", "b0"), ("num1", "b1"), ("num2", "b2"))
        ],
    ).orderBy(group_col)


def grouped_fit_oracle_sql(group_col: str = "lang",
                           table: str = "documents") -> str:
    x1 = "length(text)::BIGINT"
    x2 = "len([w for w in string_split(text, ' ') if w <> ''])::BIGINT"
    y = "(length(text) - length(replace(text, 'e', '')))::BIGINT"
    d = _det_exprs("{v}::HUGEINT")
    det = d["det"]
    cols = ", ".join(
        f"CASE WHEN ({det}) = 0 THEN NULL "
        f"ELSE ({d[num]})::DOUBLE / ({det})::DOUBLE END AS {b}"
        for num, b in (("num0", "b0"), ("num1", "b1"), ("num2", "b2"))
    )
    return f"""
WITH sums AS (
  SELECT {group_col}, count(*)::BIGINT AS n,
         sum({x1})::BIGINT AS s1, sum({x2})::BIGINT AS s2,
         sum({y})::BIGINT AS sy,
         sum({x1} * {x1})::BIGINT AS s11, sum({x1} * {x2})::BIGINT AS s12,
         sum({x2} * {x2})::BIGINT AS s22,
         sum({x1} * {y})::BIGINT AS s1y, sum({x2} * {y})::BIGINT AS s2y
  FROM {table} GROUP BY {group_col}
)
SELECT {group_col}, n, ({det})::VARCHAR AS det, {cols}
FROM sums ORDER BY {group_col}
"""


def chi2_top_tokens(docs: DataFrame, positive: str = "en",
                    label_col: str = "lang", k: int = 50, min_df: int = 5,
                    text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """Chi-squared feature selection: the ``k`` tokens whose DOCUMENT
    FREQUENCY is most associated with the ``label_col = positive`` class
    (the classic supervised vocabulary-selection step before training a
    quality / language / domain classifier). Per token, the 2x2
    contingency over distinct (doc, token) incidence:
    a = positive docs containing t, b = negative docs containing t,
    c = positive docs without t, d = negative docs without t, and

        chi2 = N * (a*d - b*c)^2 / ((a+b) * (c+d) * (a+c) * (b+d))

    computed as exact DECIMAL(38,0) numerator/denominator plus their one
    IEEE quotient — hash-stable across engines. Output
    ``(token, df, pos_df, chi2_num, chi2_den, chi2)`` ordered by chi2
    desc, token asc. Exactness bound: numerator <= N^5, so N up to ~3e7
    docs stays inside DECIMAL(38,0); beyond that, sample or shard by
    label (documented cliff, loud ANSI overflow — never silent).

    Scale shape: explode -> distinct (doc, token) is one shuffle;
    the contingency is ONE map-side-combined groupBy(token) with a
    conditional sum; N and P are a broadcast 1-row aggregate; the final
    top-k is TakeOrdered (no global sort materialization)."""
    from .text import WORDS_EXPR

    ws = WORDS_EXPR.format(col=text_col)
    base = fan_out(docs, id_col).select(
        F.col(id_col),
        (F.col(label_col) == F.lit(positive)).cast("long").alias("pos"),
        F.expr(ws).alias("_toks"),
    )
    totals = F.broadcast(
        base.agg(F.count("*").cast("long").alias("N"),
                 F.sum("pos").alias("P"))
    )
    incidence = (
        base.select(id_col, "pos", F.explode("_toks").alias("token"))
        .groupBy(id_col, "token")
        .agg(F.first("pos").alias("pos"))
    )
    cont = (
        incidence.groupBy("token")
        .agg(F.count("*").cast("long").alias("df"),
             F.sum("pos").alias("pos_df"))
        .filter(F.col("df") >= min_df)
        .crossJoin(totals)
    )
    dec = "cast({v} as decimal(38,0))"
    a = dec.format(v="pos_df")
    ab = dec.format(v="df")
    n = dec.format(v="N")
    p = dec.format(v="P")
    b = f"({ab} - {a})"
    c = f"({p} - {a})"
    d = f"({n} - {p} - {b})"
    num = f"{n} * ({a} * {d} - {b} * {c}) * ({a} * {d} - {b} * {c})"
    den = (f"{ab} * ({n} - {ab}) * {p} * ({n} - {p})")
    return (
        cont.select(
            "token", "df", "pos_df",
            F.expr(f"cast({num} as string)").alias("chi2_num"),
            F.expr(f"cast({den} as string)").alias("chi2_den"),
            F.expr(
                f"case when {den} = 0 then cast(0.0 as double) "
                f"else cast({num} as double) / cast({den} as double) end"
            ).alias("chi2"),
        )
        .orderBy(F.col("chi2").desc(), F.col("token").asc())
        .limit(k)
    )


def chi2_top_tokens_oracle_sql(positive: str = "en", label_col: str = "lang",
                               k: int = 50, min_df: int = 5,
                               table: str = "documents",
                               id_col: str = "doc_id") -> str:
    """DuckDB mirror: same incidence/contingency in HUGEINT, same single
    quotient, DECIMAL(38,0) at the column boundary."""
    ws = "[w for w in string_split(text, ' ') if w <> '']"
    num = "N::HUGEINT * (a * d0 - b * c) * (a * d0 - b * c)"
    den = "df::HUGEINT * (N - df) * P * (N - P)"
    return f"""
WITH base AS (
  SELECT {id_col} AS id,
         CASE WHEN {label_col} = '{positive}' THEN 1 ELSE 0 END::BIGINT AS pos,
         {ws} AS toks
  FROM {table}
), totals AS (
  SELECT count(*)::BIGINT AS N, sum(pos)::BIGINT AS P FROM base
), incidence AS (
  SELECT DISTINCT id, pos, unnest(toks) AS token FROM base
), cont AS (
  SELECT token, count(*)::BIGINT AS df, sum(pos)::BIGINT AS pos_df
  FROM incidence GROUP BY token HAVING count(*) >= {min_df}
), scored AS (
  SELECT token, df, pos_df,
         pos_df::HUGEINT AS a, (df - pos_df)::HUGEINT AS b,
         (P - pos_df)::HUGEINT AS c,
         (N - P - (df - pos_df))::HUGEINT AS d0, N, P
  FROM cont, totals
)
SELECT token, df, pos_df,
       ({num})::VARCHAR AS chi2_num,
       ({den})::VARCHAR AS chi2_den,
       CASE WHEN ({den}) = 0 THEN 0.0
            ELSE ({num})::DOUBLE / ({den})::DOUBLE END AS chi2
FROM scored
ORDER BY chi2 DESC, token ASC
LIMIT {k}
"""


def ttest_two_group(docs: DataFrame, positive: str = "en",
                    label_col: str = "lang", text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """Pooled two-sample t-test on document LENGTH between the
    ``label_col = positive`` class and the rest ("are my English docs
    longer than the others?" — the A/B significance read every curation
    change wants). The pooled-variance t statistic is a RATIONAL in the
    per-group integer sums: with S_g = sum(x), Q_g = sum(x^2),

        t^2 = (n1+n2-2) * (n2*S1 - n1*S2)^2
              / ((n1+n2) * (n2*(n1*Q1 - S1^2) + n1*(n2*Q2 - S2^2)))

    so both operands are exact DECIMAL(38,0) and ``t`` is
    ``sign(n2*S1 - n1*S2) * sqrt(num/den)`` — one IEEE division + one
    IEEE sqrt over exact-operand doubles, hash-stable. Returns ONE row
    ``(n1, n2, mean_diff_num, t2_num, t2_den, t)``.

    Scale shape: the corpus reduces to SIX integer sums in one
    map-side-combined conditional aggregation (no group shuffle at all —
    the two groups are conditional sums in the same pass); the algebra
    runs on the single row. Overflow bound: num <= N^3 * maxlen^2 — N to
    ~1e8 docs at 1e4 chars stays in DECIMAL(38,0)."""
    x = f"cast(length({text_col}) as bigint)"
    pos = f"cast({label_col} = '{positive}' as bigint)"
    sums = fan_out(docs, id_col).agg(
        F.expr(f"sum({pos})").alias("n1"),
        F.expr(f"sum(1 - {pos})").alias("n2"),
        F.expr(f"sum({pos} * {x})").alias("s1"),
        F.expr(f"sum((1 - {pos}) * {x})").alias("s2"),
        F.expr(f"sum({pos} * {x} * {x})").alias("q1"),
        F.expr(f"sum((1 - {pos}) * {x} * {x})").alias("q2"),
    )
    dec = "cast({v} as decimal(38,0))"
    n1, n2 = dec.format(v="n1"), dec.format(v="n2")
    s1, s2 = dec.format(v="s1"), dec.format(v="s2")
    q1, q2 = dec.format(v="q1"), dec.format(v="q2")
    d = f"({n2} * {s1} - {n1} * {s2})"
    num = f"({n1} + {n2} - 2) * {d} * {d}"
    den = (f"({n1} + {n2}) * ({n2} * ({n1} * {q1} - {s1} * {s1})"
           f" + {n1} * ({n2} * {q2} - {s2} * {s2}))")
    return sums.select(
        "n1", "n2",
        F.expr(f"cast({d} as string)").alias("mean_diff_num"),
        F.expr(f"cast({num} as string)").alias("t2_num"),
        F.expr(f"cast({den} as string)").alias("t2_den"),
        F.expr(
            f"case when {den} = 0 then cast(0.0 as double) else "
            f"cast(sign({d}) as double)"
            f" * sqrt(cast({num} as double) / cast({den} as double)) end"
        ).alias("t"),
    )


def ttest_two_group_oracle_sql(positive: str = "en",
                               label_col: str = "lang",
                               table: str = "documents") -> str:
    x = "length(text)::BIGINT"
    pos = f"({label_col} = '{positive}')::BIGINT"
    d = "(n2::HUGEINT * s1 - n1::HUGEINT * s2)"
    num = f"(n1::HUGEINT + n2 - 2) * {d} * {d}"
    den = ("(n1::HUGEINT + n2) * (n2::HUGEINT * (n1::HUGEINT * q1 - s1::HUGEINT * s1)"
           " + n1::HUGEINT * (n2::HUGEINT * q2 - s2::HUGEINT * s2))")
    return f"""
WITH sums AS (
  SELECT sum({pos})::BIGINT AS n1,
         sum(1 - {pos})::BIGINT AS n2,
         sum({pos} * {x})::BIGINT AS s1,
         sum((1 - {pos}) * {x})::BIGINT AS s2,
         sum({pos} * {x} * {x})::BIGINT AS q1,
         sum((1 - {pos}) * {x} * {x})::BIGINT AS q2
  FROM {table}
)
SELECT n1, n2,
       ({d})::VARCHAR AS mean_diff_num,
       ({num})::VARCHAR AS t2_num,
       ({den})::VARCHAR AS t2_den,
       CASE WHEN ({den}) = 0 THEN 0.0 ELSE
         sign({d})::DOUBLE * sqrt(({num})::DOUBLE / ({den})::DOUBLE)
       END AS t
FROM sums
"""


def cusum_drift(daily: DataFrame, k: int, h: int,
                day_col: str = "day", value_col: str = "x") -> DataFrame:
    """One-sided CUSUM change-point detection over an ordered integer
    series — the classic pipeline-monitoring primitive ("did the daily
    ingest volume shift upward?"). The textbook recurrence
    ``S_t = max(0, S_{t-1} + (x_t - k))`` is sequential, but it has the
    exact closed form ``S_t = P_t - min(0, min_{i<=t} P_i)`` with ``P``
    the prefix sum of the drift ``x - k`` — two window passes, no
    iteration, all int64. Rows with ``S_t > h`` raise the alarm flag.
    Returns ``(day, x, cusum, alarm)`` ordered by day.

    ``k`` is the reference (allowance) level and ``h`` the decision
    threshold — both caller-chosen integers (classically k = target mean
    + allowance, h = several sigma), kept explicit so the operator stays
    a pure function.

    Scale: the input is ALREADY the per-day aggregate (the corpus-sized
    reduction happens upstream in a map-side-combined groupBy), so the
    window runs over |days| rows — thousands at a decade of daily grain;
    the single-partition window on that frame is the right plan, exactly
    like the waterfilling source frame."""
    run = Window.orderBy(day_col).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    p = F.sum(F.col(value_col) - F.lit(int(k))).over(run)
    return (
        daily.withColumn("_p", p.cast("long"))
        .withColumn(
            "cusum",
            (F.col("_p")
             - F.least(F.lit(0).cast("long"), F.min("_p").over(run))),
        )
        .select(
            day_col, value_col, "cusum",
            (F.col("cusum") > F.lit(int(h))).alias("alarm"),
        )
        .orderBy(day_col)
    )


def mannwhitney_u(docs: DataFrame, positive: str = "en",
                  label_col: str = "lang",
                  text_col: str = "text") -> DataFrame:
    """Mann–Whitney U (Wilcoxon rank-sum) test on document LENGTH
    between the ``label_col = positive`` class and the rest — the
    NONPARAMETRIC companion to :func:`ttest_two_group` (no normality
    assumption; the right significance read when length distributions
    are heavy-tailed, which corpus length distributions are).

    Ranks use midranks for ties, kept integer by doubling: a value v
    with c_less smaller observations and t tied observations has
    2*midrank = 2*c_less + t + 1, so

        2*R1 = sum over group-1 obs of (2*c_less + t + 1)
        2*U1 = 2*R1 - n1*(n1+1)

    and the tie-corrected normal approximation is a RATIONAL in integer
    sums: with d = 2*U1 - n1*n2, N = n1+n2, T = sum(t^3 - t),

        z^2 = 3 * d^2 * N * (N-1) / (n1*n2*((N+1)*N*(N-1) - T))

    — both operands exact DECIMAL(38,0), z = sign(d)*sqrt(num/den) as
    one IEEE division + one sqrt (the ttest hash-stability discipline).
    Returns ONE row ``(n1, n2, u1_x2, z2_num, z2_den, z)`` with the
    wide integers as digit strings (grading-harness pandas bridge).

    Scale shape: one map-side-combined groupBy over DISTINCT lengths
    (cardinality bounded by the VALUE DOMAIN — max document length —
    not the corpus size), one prefix-sum window over that bounded
    frame, one 1-row reduce. The z^2 numerator is <= (3/16)*N^6, so the
    algebra is exact through N ~ 3e6 observations; past that, test per
    stratum (the statistic is only meaningful per-comparison anyway) —
    the U statistic itself (u1_x2 <= 2*n1*n2) stays exact to N ~ 1e19."""
    x = f"cast(length({text_col}) as bigint)"
    pos = f"cast({label_col} = '{positive}' as bigint)"
    # NULL texts carry no length to rank — excluded on BOTH engines
    # (otherwise Spark's NULLS FIRST window order and DuckDB's NULLS
    # LAST default would shift every c_less prefix sum)
    docs = docs.where(f"{text_col} IS NOT NULL")
    pv = docs.groupBy(F.expr(x).alias("v")).agg(
        F.count("*").cast("long").alias("t"),
        F.expr(f"sum({pos})").cast("long").alias("g1"),
    )
    # c_less = running count STRICTLY below v — cum(t) - t through the
    # two-level scan (v is unique post-groupBy, so the sharded prefix
    # equals the single-partition window bit for bit; the value frame
    # is bounded by the value DOMAIN, but at 100 TB even that deserves
    # shard parallelism)
    from cassandra_ttl_remover_spark.plans import two_level_cumsum

    ranked = two_level_cumsum(pv, ["v"], "t", out="_cum_t").select(
        "v", "t", "g1",
        (F.col("_cum_t") - F.col("t")).alias("c_less"),
    )
    sums = ranked.agg(
        F.expr("sum(g1)").cast("long").alias("n1"),
        F.expr("sum(t - g1)").cast("long").alias("n2"),
        F.expr("sum(cast(g1 as decimal(38,0)) * "
               "(2 * cast(c_less as decimal(38,0)) + t + 1))")
        .alias("dbl_r1"),
        F.expr("sum(cast(t as decimal(38,0)) * t * t - t)").alias("tie"),
    )
    dec = "cast({v} as decimal(38,0))"
    n1, n2 = dec.format(v="n1"), dec.format(v="n2")
    nn = f"({n1} + {n2})"
    u1x2 = f"(dbl_r1 - {n1} * ({n1} + 1))"
    d = f"({u1x2} - {n1} * {n2})"
    num = f"(3 * {d} * {d} * {nn} * ({nn} - 1))"
    den = f"({n1} * {n2} * (({nn} + 1) * {nn} * ({nn} - 1) - tie))"
    return sums.select(
        "n1", "n2",
        F.expr(f"cast({u1x2} as string)").alias("u1_x2"),
        F.expr(f"cast({num} as string)").alias("z2_num"),
        F.expr(f"cast({den} as string)").alias("z2_den"),
        F.expr(
            f"case when {den} = 0 then cast(0.0 as double) else "
            f"cast(sign({d}) as double)"
            f" * sqrt(cast({num} as double) / cast({den} as double)) end"
        ).alias("z"),
    )


def mannwhitney_u_oracle_sql(positive: str = "en", label_col: str = "lang",
                             table: str = "documents") -> str:
    x = "length(text)::BIGINT"
    pos = f"({label_col} = '{positive}')::BIGINT"
    u1x2 = "(dbl_r1 - n1::HUGEINT * (n1 + 1))"
    d = f"({u1x2} - n1::HUGEINT * n2)"
    nn = "(n1::HUGEINT + n2)"
    num = f"(3 * {d} * {d} * {nn} * ({nn} - 1))"
    den = f"(n1::HUGEINT * n2 * (({nn} + 1) * {nn} * ({nn} - 1) - tie))"
    return f"""
WITH pv AS (
  SELECT {x} AS v, count(*)::BIGINT AS t, sum({pos})::BIGINT AS g1
  FROM {table} WHERE text IS NOT NULL GROUP BY 1
), ranked AS (
  SELECT v, t, g1,
         coalesce(sum(t) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
                               PRECEDING AND 1 PRECEDING), 0) AS c_less
  FROM pv
), sums AS (
  SELECT sum(g1)::BIGINT AS n1, sum(t - g1)::BIGINT AS n2,
         sum(g1::HUGEINT * (2 * c_less::HUGEINT + t + 1)) AS dbl_r1,
         sum(t::HUGEINT * t * t - t) AS tie
  FROM ranked
)
SELECT n1, n2,
       ({u1x2})::VARCHAR AS u1_x2,
       ({num})::VARCHAR AS z2_num,
       ({den})::VARCHAR AS z2_den,
       CASE WHEN ({den}) = 0 THEN 0.0 ELSE
         sign({d})::DOUBLE * sqrt(({num})::DOUBLE / ({den})::DOUBLE)
       END AS z
FROM sums
"""


def theil_sen_kendall(daily: DataFrame, day_col: str = "day",
                      value_col: str = "x") -> DataFrame:
    """Robust trend read on an ordered integer series, one row out:
    Theil–Sen slope (median of all pairwise slopes — up to ~29% outlier
    days cannot move it, unlike OLS) and Kendall tau-b (the rank
    trend-significance companion, Mann–Kendall's statistic).

    Exactness: every pair contributes integers ``(dx, dt)``; the
    concordance sum S = sum(sign(dx)) and the x-tie pair count n2 are
    exact, and tau = S / sqrt(n0*(n0 - n2)) is one IEEE division +
    sqrt over exact operands (time has no ties, so the tau-b n1 term
    vanishes). The median slope is selected by ordering pairs on
    (dx/dt as ONE IEEE division, dt, dx) — both engines compute
    identical doubles from identical ints, and the integer tie-breaks
    pin a unique row choice, so the selection is engine-deterministic
    — then emitted UNREDUCED from the middle row(s):
    num = dx_a*dt_b + dx_b*dt_a, den = 2*dt_a*dt_b (for an odd pair
    count the two middles coincide and the formula degenerates to
    2*dx*dt / 2*dt^2 == dx/dt). No gcd needed: both engines emit the
    same formula of the same rows.

    Scale: the input is already the per-day aggregate; pairs are
    O(|days|^2) — ~6.6M at a DECADE of daily grain, a bounded
    broadcast self-join over the tiny frame, never corpus-sized. The
    median-pair selection ranks that frame through
    :func:`~cassandra_ttl_remover_spark.plans.two_level_row_number`
    (shard-parallel sort + broadcast shard offsets) — no
    empty-partitionBy window funnels the pairs through one task, the
    same plan discipline the AUC prefix sum follows. Tied (slope, dt,
    dx) rows may be numbered either way, which cannot move the output:
    rank-adjacent ties carry the exact (dx, dt) values the selection
    consumes."""
    from cassandra_ttl_remover_spark.plans import two_level_row_number

    idx = daily.select(
        F.col(day_col).alias("day"), F.col(value_col).alias("x"),
        F.row_number().over(Window.orderBy(day_col)).alias("t"),
    )
    a, b = idx.alias("a"), idx.alias("b")
    pairs = (
        a.join(F.broadcast(b), F.col("b.t") > F.col("a.t"))
        .select(
            (F.col("b.x") - F.col("a.x")).alias("dx"),
            (F.col("b.t") - F.col("a.t")).alias("dt"),
        )
        .withColumn("_slope", F.expr("cast(dx as double) / cast(dt as double)"))
    )
    ranked = two_level_row_number(pairs, ["_slope", "dt", "dx"], out="rn")
    m_frame = ranked.agg(
        F.count("*").cast("long").alias("m"),
        F.sum(F.expr("case when dx > 0 then 1L when dx < 0 then -1L "
                     "else 0L end")).cast("long").alias("kendall_s"),
        F.expr("sum(cast(dx = 0 as bigint))").cast("long").alias("n2"),
    )
    mid = ranked.join(F.broadcast(m_frame.select("m"))).filter(
        "rn = cast((m + 1) / 2 as bigint) or rn = cast((m + 2) / 2 as bigint)"
    ).agg(
        F.expr("min_by(dx, rn)").alias("dx_a"),
        F.expr("max_by(dx, rn)").alias("dx_b"),
        F.expr("min_by(dt, rn)").alias("dt_a"),
        F.expr("max_by(dt, rn)").alias("dt_b"),
    )
    tot = m_frame.select(
        F.col("m").alias("n_pairs"), "kendall_s", "n2",
    )
    n_days = daily.select(F.count("*").cast("long").alias("n_days"))
    num = "cast(dx_a as decimal(38,0)) * dt_b + cast(dx_b as decimal(38,0)) * dt_a"
    den = "2 * cast(dt_a as decimal(38,0)) * dt_b"
    tau_den = ("cast(n_pairs as decimal(38,0)) * "
               "(cast(n_pairs as decimal(38,0)) - n2)")
    return (
        n_days.crossJoin(F.broadcast(tot)).crossJoin(F.broadcast(mid))
        .select(
            "n_days", "n_pairs",
            F.expr(f"cast({num} as string)").alias("ts_num"),
            F.expr(f"cast({den} as string)").alias("ts_den"),
            F.expr(
                f"cast({num} as double) / cast({den} as double)"
            ).alias("theil_sen"),
            "kendall_s",
            F.expr(
                f"case when {tau_den} = 0 then cast(0.0 as double) else "
                f"cast(kendall_s as double) / sqrt(cast({tau_den} as double)) end"
            ).alias("kendall_tau"),
        )
    )


def theil_sen_kendall_oracle_sql(daily_sql: str, day_col: str = "day",
                                 value_col: str = "x") -> str:
    """DuckDB mirror: same pair frame, same (dx/dt, dt, dx) ordering,
    same unreduced middle-row formula; integral outputs ::BIGINT or
    ::VARCHAR past the pandas bridge."""
    return f"""
WITH daily AS ({daily_sql}),
idx AS (
  SELECT {day_col} AS day, {value_col} AS x,
         row_number() OVER (ORDER BY {day_col}) AS t
  FROM daily
),
pairs AS (
  SELECT (b.x - a.x)::BIGINT AS dx, (b.t - a.t)::BIGINT AS dt
  FROM idx a JOIN idx b ON b.t > a.t
),
ranked AS (
  SELECT dx, dt,
         row_number() OVER (ORDER BY dx::DOUBLE / dt::DOUBLE, dt, dx)
           AS rn,
         count(*) OVER () AS m
  FROM pairs
),
mid AS (
  SELECT min_by(dx, rn)::HUGEINT AS dx_a, max_by(dx, rn)::HUGEINT AS dx_b,
         min_by(dt, rn)::HUGEINT AS dt_a, max_by(dt, rn)::HUGEINT AS dt_b
  FROM ranked
  WHERE rn = (m + 1) // 2 OR rn = (m + 2) // 2
),
tot AS (
  SELECT max(m)::BIGINT AS n_pairs,
         sum(CASE WHEN dx > 0 THEN 1 WHEN dx < 0 THEN -1
                  ELSE 0 END)::BIGINT AS kendall_s,
         sum((dx = 0)::BIGINT)::BIGINT AS n2
  FROM ranked
),
nd AS (SELECT count(*)::BIGINT AS n_days FROM idx)
SELECT n_days, n_pairs,
       (dx_a * dt_b + dx_b * dt_a)::VARCHAR AS ts_num,
       (2 * dt_a * dt_b)::VARCHAR AS ts_den,
       (dx_a * dt_b + dx_b * dt_a)::DOUBLE / (2 * dt_a * dt_b)::DOUBLE
         AS theil_sen,
       kendall_s,
       CASE WHEN n_pairs::HUGEINT * (n_pairs::HUGEINT - n2) = 0 THEN 0.0
            ELSE kendall_s::DOUBLE
                 / sqrt((n_pairs::HUGEINT * (n_pairs::HUGEINT - n2))::DOUBLE)
       END AS kendall_tau
FROM nd, tot, mid
"""

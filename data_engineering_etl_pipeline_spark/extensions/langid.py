"""Trainable language identification: a
fastText-style linear classifier over hashed character-n-gram features,
composed entirely from this repo's existing machinery — the portable
md5 bucket hash (``corpus._portable_hv``), the exact fixed-point
logistic-regression trainer (``classifier.fit_logreg_exact``,
one-vs-rest), and the quality gate's fixed-point DECISION fold
convention (``classifier.logreg_gate_fold``) — so the prediction
DECISION is oracle-able in DuckDB even though the fit (libm exp) is
not, exactly the ``quality_classifier_gate`` split.

Why this exists next to ``text_stats.predict_lang``: the stopword
heuristic is fine for en/es/de-class splits but blind to unlisted
languages and short documents; a trained
char-n-gram classifier (the public fastText lang-ID recipe, Joulin et
al. 2016) discriminates on script and sub-word statistics instead of a
fixed stopword table. The heuristic remains the no-model default AND
the fallback for feature-less documents here.

Scale shapes:
- featurization is a PURE column expression (lowercase → char n-gram
  slices → md5 bucket → dense relative-frequency vector): map-only at
  any corpus scale, no Python, no shuffle;
- training is ``fit_logreg_exact`` per language (one-vs-rest): each
  iteration is one map-only Arrow pass + a model-sized integer reduce —
  byte-stable under any partitioning; the feature projection is
  engine-pinned once and shared by all K fits;
- prediction is one corpus scan, no shuffle, no collect: the staged
  projection computes the hashed bucket array as a pure expression
  (one JVM md5 per n-gram) and ONE Arrow-batched kernel computes all K
  scores (see ``predict_lang_trained``).

Decision portability: per-language scores are the quality-gate fold
``z_q = floor(b·Q) + Σ_i floor(freq_i · w_i · Q)`` — each term one
deterministic left-associated IEEE double product, the sum BIGINT — and
argmax ties break by language code ascending, so a serial SQL engine
reproduces every prediction bit-for-bit (``lang_id_scores_sql`` emits
the DuckDB twin; tests/test_langid.py hash-checks it end-to-end on the
planted corpus, the ``quality_classifier_gate`` convention).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .classifier import LOGREG_Q_SCALE, fit_logreg_exact
from .corpus import _portable_hv

#: default feature config — char BIGRAMS into 64 hashed buckets. n=2
#: (not 3) is the deliberate small-data default: the bigram space is
#: dense enough that held-out text shares most features with training
#: text (a measured 1.0 vs 0.625 held-out accuracy gap on the planted
#: fixture at dim 64 — trigram features mostly hash-collide or go
#: unseen at few training sentences); deployments with large labeled
#: sets can raise ``n``. dim kept small: the decision fold and its SQL
#: twin are O(dim) per row per language.
LANGID_DIM = 64
LANGID_N = 2
LANGID_SALT = "langid-v1"


def _c(col: str | Column) -> Column:
    return F.col(col) if isinstance(col, str) else col


def char_ngram_buckets(text_col: str | Column, buckets: int = LANGID_DIM,
                       n: int = LANGID_N,
                       salt: str = LANGID_SALT) -> Column:
    """Array of hashed character-n-gram feature buckets over the
    LOWERCASED text — the char-level twin of
    ``corpus.hashed_ngram_buckets`` (same portable md5 bucket hash, so
    a DuckDB twin reproduces the exact ids). NULL text → NULL; text
    shorter than ``n`` characters → empty array (no features)."""
    t = F.lower(_c(text_col))
    m = F.length(t) - (n - 1)
    idx = F.when(m >= 1, F.sequence(F.lit(1), m)) \
           .otherwise(F.array().cast("array<int>"))
    grams = F.transform(idx, lambda i: t.substr(i, F.lit(n)))
    out = F.transform(
        grams,
        lambda g: F.pmod(_portable_hv(F.concat(g, F.lit("|" + salt))),
                         F.lit(buckets)))
    return F.when(t.isNull(), F.lit(None).cast("array<bigint>")) \
            .otherwise(out)


def char_freq_vector(text_col: str | Column, dim: int = LANGID_DIM,
                     n: int = LANGID_N,
                     salt: str = LANGID_SALT) -> Column:
    """Dense relative-frequency feature vector (``array<double>`` of
    length ``dim``): bucket counts over :func:`char_ngram_buckets`
    divided by the total n-gram count. Relative frequencies (not raw
    counts) keep the logreg geometry length-invariant, and each
    ``freq_i = count_i / total`` is ONE exact IEEE division — the
    decision fold stays bit-portable. NULL text or feature-less text
    (shorter than ``n``) → NULL vector (no evidence; prediction falls
    back)."""
    b = char_ngram_buckets(text_col, dim, n, salt)
    total = F.size(b)
    counts = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda k: F.size(F.filter(b, lambda x: x == k.cast("bigint"))))
    freq = F.transform(counts, lambda c: c.cast("double") / total)
    return F.when(b.isNull() | (total == 0),
                  F.lit(None).cast("array<double>")).otherwise(freq)


def fit_lang_id(labeled: DataFrame, lang_col: str = "lang",
                text_col: str = "text", dim: int = LANGID_DIM,
                n: int = LANGID_N, salt: str = LANGID_SALT) -> dict:
    """Train the lang-ID model one-vs-rest: for each language, an exact
    fixed-point logistic regression (``fit_logreg_exact`` — gradients
    reduce as integers, so every per-language model is byte-identical
    under any partitioning/retry) distinguishing that language's rows
    from the rest. Returns ``{"langs", "models": {lang: model}, "dim",
    "n", "salt"}`` — KB-scale, JSON-serializable (persist it like any
    codebook).

    ``langs`` is the sorted distinct labels (one KB-scale collect).
    The feature projection is computed ONCE and engine-pinned — the K
    one-vs-rest fits (40 passes each) share it instead of
    re-running the char-n-gram expression per fit; callers release via
    ``caching.release_engine_pins()`` / ``engine_pin_scope()`` (the
    standard engine-pin contract). Rows with NULL labels or feature-less
    text are excluded from every fit (the kernel's NULL handling)."""
    from ..caching import pin

    langs = sorted(r[0] for r in
                   labeled.select(lang_col).distinct().collect()
                   if r[0] is not None)
    if not langs:
        raise ValueError("fit_lang_id: no languages to fit")
    vecs = pin(labeled.select(
        F.col(lang_col).alias("__lang"),
        char_freq_vector(text_col, dim, n, salt).alias("__v")))
    models = {}
    for lang in langs:
        lab = vecs.withColumn(
            "__y", (F.col("__lang") == lang).cast("double"))
        models[lang] = fit_logreg_exact(
            lab, vec_col="__v", label_col="__y", dim=dim,
            n_iters=40, lr=4.0)
    return {"langs": langs, "models": models, "dim": dim, "n": n,
            "salt": salt}


def planted_lang_id(langs, seed: int, dim: int = LANGID_DIM,
                    n: int = LANGID_N, salt: str = LANGID_SALT) -> dict:
    """Seeded deterministic lang-ID model — one
    ``classifier.planted_logreg`` per language (seed offset by the
    language's sorted index), shaped exactly like :func:`fit_lang_id`
    output. The ``planted_projection``/``planted_logreg`` convention:
    a driver row can value-check the trained-prediction DECISION
    machinery (featurization → K score folds → argmax → fallback)
    under constants both engines embed verbatim, without the
    data-dependence of a real fit (trained weights pass through libm
    exp; the fit stays byte-stable-unit-verified, the
    ``quality_classifier_gate`` split)."""
    from .classifier import planted_logreg

    ls = sorted(langs)
    return {"langs": ls,
            "models": {lang: planted_logreg(seed + i, dim)
                       for i, lang in enumerate(ls)},
            "dim": dim, "n": n, "salt": salt}


def predict_lang_trained(docs: DataFrame, model: dict,
                         id_col: str = "doc_id", text_col: str = "text",
                         out_col: str = "pred_lang",
                         fallback: str = "heuristic",
                         carry_cols: tuple[str, ...] = ()) -> DataFrame:
    """Predict languages with a :func:`fit_lang_id` model: ``(id,
    pred_lang, z_q)`` where ``pred_lang`` is the argmax language of the
    per-language fixed-point score folds (``z_q`` the winning score;
    ties break by language code ascending — deterministic cross-engine)
    and feature-less documents (NULL/too-short text: NULL feature
    vector, no evidence) fall back to ``fallback``:

    - ``'heuristic'`` (default): ``text_stats.predict_lang`` — the
      stopword-hit argmax, so short docs keep the list-based guess as
      their floor;
    - ``'und'``: the undetermined sentinel, for pipelines that prefer
      an honest no-evidence answer.

    Map-only: K score folds with literal weights — one scan, no
    shuffle. The DECISION (scores + argmax + tiebreak) is bit-portable;
    ``lang_id_scores_sql`` is the DuckDB twin (hash-checked in
    tests/test_langid.py).

    Execution: the staged projection computes only the hashed BUCKET
    array (one md5 per n-gram — O(len), JVM-side), and ONE
    Arrow-batched kernel does the bincount, the relative frequencies
    (the same exact IEEE ``count/total`` divisions as
    :func:`char_freq_vector`), and all K quantized scores with per-term
    ``floor((freq_i · w_ki) · Q)`` float64 products and int64 sums —
    the fold :func:`lang_id_scores_sql` spells out. One vectorized pass
    whatever K is. The kernel boundary also matters: as a pure
    expression the shared frequency vector is inlined by Catalyst into
    every fold, the argmax and the null checks, so the O(dim·len)
    featurization re-executed once per reference (measured 590 s for
    the 5-language doc_text_stats row at sf0.1 vs ~2 s here), and a
    100-language model would be K·dim ≈ 6400+ floor terms per row,
    past whole-stage-codegen's expression budget.

    ``carry_cols``: extra ``docs`` columns preserved verbatim on
    the output, so a map-only caller can fold the prediction into its
    own projection instead of paying a corpus-wide join back on
    ``id_col`` (doc_text_stats previously joined three scans of the
    same table; at 100 TB that join is two full shuffles). Names equal
    to ``id_col`` are ignored (it is always returned); ``text_col`` may
    be listed to carry the text through."""
    if fallback not in ("heuristic", "und"):
        raise ValueError(
            f"predict_lang_trained: fallback={fallback!r} "
            "(want 'heuristic' or 'und')")
    langs = sorted(model["langs"])
    for lang in langs:
        n_w = len(model["models"][lang]["weights"])
        if n_w != model["dim"]:
            # the kernel would fail on the first batch, mid-job, with a
            # numpy broadcast error; refuse loudly at plan time instead
            raise ValueError(
                f"predict_lang_trained: model[{lang!r}] has {n_w} "
                f"weights but dim={model['dim']} — fit and predict must "
                "share the hashing dimension")
    dim, n, salt = model["dim"], model["n"], model["salt"]
    # carried columns ride the staged projection and the final select;
    # id/text are already staged, so drop them from the extras list
    extras = [c for c in carry_cols if c not in (id_col, text_col)]
    out_carry = [c for c in carry_cols if c != id_col]
    w_mat = np.asarray(
        [model["models"][lang]["weights"] for lang in langs],
        dtype=np.float64)
    b_q = np.asarray(
        [int(math.floor(float(model["models"][lang]["bias"])
                        * LOGREG_Q_SCALE)) for lang in langs],
        dtype=np.int64)
    qf = float(LOGREG_Q_SCALE)

    @F.pandas_udf("array<long>")
    def all_scores(buckets: pd.Series) -> pd.Series:
        out = []
        for arr in buckets:
            if arr is None or len(arr) == 0:
                # NULL text or feature-less: no evidence → NULL
                # scores (the NULL-frequency-vector convention)
                out.append(None)
                continue
            bk = np.asarray(arr, dtype=np.int64)
            counts = np.bincount(bk, minlength=dim)[:dim]
            # the exact IEEE division of char_freq_vector's
            # count/total, then per-term (x_i * w_ki) * Q floored —
            # the SQL twin's product order — and an
            # associativity-free int64 sum per language
            x = counts.astype(np.float64) / np.float64(len(bk))
            terms = np.floor((x[None, :] * w_mat) * qf)
            out.append((terms.astype(np.int64).sum(axis=1)
                        + b_q).tolist())
        return pd.Series(out)

    # the staged projection carries only the BUCKET array — O(len)
    # with one JVM md5 per n-gram; the UDF boundary stops Catalyst from
    # inlining the featurization into every downstream reference
    bk = char_ngram_buckets(text_col, dim, n, salt)
    staged = (docs.select(F.col(id_col), F.col(text_col),
                          *[F.col(c) for c in extras],
                          bk.alias("__bk"))
              .withColumn("__z", all_scores(F.col("__bk"))))
    zcols = {lang: F.element_at(F.col("__z"), i + 1)
             for i, lang in enumerate(langs)}
    no_features = F.col("__z").isNull()
    best = F.greatest(*zcols.values()) if len(zcols) > 1 \
        else next(iter(zcols.values()))
    pred: Column = F.lit(None).cast("string")
    # innermost-last: the alphabetically-first language is the outermost
    # WHEN and wins ties (the predict_lang convention)
    for lang in langs[::-1]:
        pred = F.when(zcols[lang] == best, F.lit(lang)).otherwise(pred)
    if fallback == "heuristic":
        from .text_stats import predict_lang, tokens
        fb = predict_lang(tokens(F.col(text_col)))
    else:
        fb = F.lit("und")
    return staged.select(
        F.col(id_col),
        *[F.col(c) for c in out_carry],
        F.when(no_features, fb).otherwise(pred).alias(out_col),
        F.when(no_features, F.lit(None).cast("long"))
        .otherwise(best).alias("z_q"))


def lang_id_scores_sql(model: dict) -> dict[str, str]:
    """DuckDB twins of the per-language score folds — same char-n-gram
    bucket hash (the ``_MD5_32`` digit fold), same relative
    frequencies, same per-term ``FLOOR(freq * w * Q)`` association,
    same BIGINT sum. Returns
    ``{lang: sql_expr}``; NULL/feature-less text yields NULL (callers
    CASE on it for the fallback). Each expression references ``freq``
    — a ``DOUBLE[]`` column callers build once with
    :func:`char_freq_sql`."""
    out = {}
    q = float(LOGREG_Q_SCALE)
    for lang in sorted(model["langs"]):
        m = model["models"][lang]
        b_q = int(math.floor(float(m["bias"]) * LOGREG_Q_SCALE))
        chain = " + ".join(
            f"CAST(FLOOR(freq[{i + 1}]*{m['weights'][i]!r}*{q!r}) AS BIGINT)"
            for i in range(model["dim"]))
        out[lang] = f"({b_q} + ({chain}))"
    return out


def char_buckets_sql(model: dict, text_expr: str = "text") -> str:
    """DuckDB expression for the hashed char-n-gram bucket list of
    :func:`char_ngram_buckets` over ``text_expr`` (NULL text → NULL,
    sub-``n`` text → empty list). Callers compute it once in a CTE
    (conventionally as ``__bk``) and feed :func:`char_freq_sql` — a
    correlated inline subquery would not bind in DuckDB, and the md5
    digit fold per gram is worth computing once."""
    dim, n, salt = model["dim"], model["n"], model["salt"]
    lower = f"lower({text_expr})"
    gram = f"substr({lower}, CAST(i AS INT), {n})"
    md5_32 = """list_sum(list_transform(range(0, 8), j ->
        CAST(strpos('0123456789abcdef',
                    substr(md5({arg}), CAST(j + 1 AS INT), 1)) - 1
             AS BIGINT) << CAST((7 - j) * 4 AS INT)))"""
    hv = md5_32.format(arg=f"{gram} || '|{salt}'")
    return (f"CASE WHEN {text_expr} IS NULL THEN NULL ELSE "
            f"list_transform(range(1, greatest(length({lower}) - {n - 2}, "
            f"1)), i -> ({hv}) % {dim}) END")


def char_freq_sql(model: dict, buckets_expr: str = "__bk") -> str:
    """DuckDB expression for the dense relative-frequency vector of
    :func:`char_freq_vector` over a precomputed
    :func:`char_buckets_sql` column — NULL for NULL or feature-less
    text (the Spark NULL-vector convention)."""
    dim = model["dim"]
    counts = (f"list_transform(range(0, {dim}), k -> "
              f"len(list_filter({buckets_expr}, x -> x = k)))")
    return (f"CASE WHEN {buckets_expr} IS NULL "
            f"OR len({buckets_expr}) = 0 THEN NULL "
            f"ELSE list_transform({counts}, c -> "
            f"CAST(c AS DOUBLE) / len({buckets_expr})) END")

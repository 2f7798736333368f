"""Corpus-level retrieval & training-shard operators (SURVEY.md §2.11
extension family): BM25 ranked retrieval, token-budget sequence packing,
deterministic data mixing, bigram-LM quality scoring, DSIR importance
resampling, benchmark decontamination, and token-window chunking — the
ops a training-data pipeline runs between dedup/quality filtering and
shard writing.

Scale design:
- BM25: the ONLY full-corpus work is a map pass (tokenize + doc length);
  every shuffle is bounded by the query's term postings, because the
  exploded token stream is filtered to the query terms BEFORE any exchange.
- Packing: one window cumsum per hash-shard; shards are independent, so the
  sort is per-shard (bounded), never global.
- Decontamination: the benchmark side is MB-scale → its distinct n-grams
  broadcast; the 100 TB corpus side is a map-only explode + broadcast
  semi-join — the corpus never shuffles.
- Chunking: map-only explode with bounded fan-out (⌈tokens/stride⌉ rows).
- DSIR: bucket count tables are buckets-sized (KB–MB) and broadcast; the
  raw corpus pays one map-only feature explode per pass, and the scoring
  groupBy collapses to docs-sized rows via map-side partial aggregation.
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .text_stats import token_count_regex


def _words(text_col: str) -> F.Column:
    """Lowercased whitespace tokens with boundary empties removed — the
    corpus-family tokenizer. ``trim()`` strips only ASCII spaces, so a doc
    ending in a newline/tab otherwise mints phantom ``''`` tokens
    (inflated BM25 doc lengths, phantom LM bigrams, polluted DSIR/TF-IDF
    buckets); cleaning.py and bpe.py filter them the same way."""
    return F.filter(F.split(F.lower(F.trim(F.col(text_col))), r"\s+"),
                    lambda x: x != "")


def bm25_scores(docs: DataFrame, query_terms: Sequence[str],
                id_col: str = "doc_id", text_col: str = "text",
                k1: float = 1.2, b: float = 0.75) -> DataFrame:
    """Okapi BM25 score of every matching document against a bag-of-words
    query (Robertson-Spärck Jones; the public standard for sparse ranked
    retrieval). Returns ``(id, bm25)`` for docs matching ≥1 query term,
    with ``idf = ln(1 + (N - df + 0.5)/(df + 0.5))`` and the usual
    ``tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))`` term saturation.

    Plan shape: corpus stats (N, avgdl) are ONE map-side-combinable agg over
    doc lengths (no explode); the token explode is filtered to
    ``query_terms`` before the tf groupBy, so every exchange after the map
    pass carries only the query's postings — at 100 TB the data-sized work
    is one tokenize scan, and a 10-term query shuffles 10 terms' postings,
    not the corpus.
    """
    toks = _words(text_col)
    base = docs.select(F.col(id_col), toks.alias("__t"))
    lens = base.select(F.col(id_col), F.size("__t").alias("__dl"))
    # corpus-level scalars: one tiny agg, joined back as a broadcast row
    stats = lens.agg(F.count(F.lit(1)).alias("__n"),
                     F.avg("__dl").alias("__avgdl"))
    terms = [t.lower() for t in query_terms]
    tf = (base.select(F.col(id_col), F.size("__t").alias("__dl"),
                      F.explode("__t").alias("__term"))
          .filter(F.col("__term").isin(terms))
          .groupBy(id_col, "__dl", "__term")
          .agg(F.count(F.lit(1)).alias("__tf")))
    dfreq = tf.groupBy("__term").agg(F.count(F.lit(1)).alias("__df"))
    idf = F.log(F.lit(1.0) + (F.col("__n") - F.col("__df") + 0.5)
                / (F.col("__df") + 0.5))
    denom = (F.col("__tf")
             + k1 * (1 - b + b * F.col("__dl") / F.col("__avgdl")))
    contrib = idf * F.col("__tf") * (k1 + 1) / denom
    return (tf.join(F.broadcast(dfreq), "__term")
            .join(F.broadcast(stats))
            .select(F.col(id_col), contrib.alias("__c"))
            .groupBy(id_col)
            .agg(F.round(F.sum("__c"), 6).alias("bm25")))


def lm_cross_entropy(docs: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text", k: float = 0.1) -> DataFrame:
    """Per-document cross-entropy under an add-k-smoothed bigram LM trained
    on the corpus itself — the perplexity-style quality filter of public
    LLM-data pipelines (CCNet-fashion: atypical docs score high). Returns
    ``(id, n_bigrams, xent)``; docs with < 2 tokens get ``xent = NULL``.

    Model: ``P(w2|w1) = (C(w1,w2) + k) / (C(w1) + k·V)`` with ``C(w1)``
    summed over the bigram relation and ``V`` = distinct second-position
    tokens, so the conditional sums to 1 over the vocabulary;
    ``xent = −mean log P`` over the doc's bigrams.

    Plan shape: ONE bigram explode feeds the two count tables and the
    scoring join; everything shuffles on token keys (vocabulary-sized
    aggregates, data-sized scoring join — the unavoidable cost of a
    corpus-trained LM). No Python anywhere.
    """
    toks = _words(text_col)
    big = docs.select(
        F.col(id_col),
        F.explode(F.zip_with(
            F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))),
            F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))),
            lambda a, b: F.struct(a.alias("w1"), b.alias("w2")))).alias("bg"),
    ).select(F.col(id_col), F.col("bg.w1").alias("w1"),
             F.col("bg.w2").alias("w2"))
    c2 = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
    c1 = c2.groupBy("w1").agg(F.sum("c2").alias("c1"))
    v = c2.agg(F.countDistinct("w2").alias("v"))
    logp = F.log((F.col("c2") + k) / (F.col("c1") + k * F.col("v")))
    scored = (big.join(c2, ["w1", "w2"]).join(c1, "w1").join(F.broadcast(v))
              .groupBy(id_col).agg(
                  F.count(F.lit(1)).alias("n_bigrams"),
                  F.round(-F.avg(logp), 6).alias("xent")))
    return (docs.select(id_col).join(scored, id_col, "left")
            .select(id_col,
                    F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
                    "xent"))


def perplexity_buckets(docs: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text", k: float = 0.1) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al. 2020,
    arXiv:1911.00359 §4.3): score every document with the corpus-trained
    bigram-LM cross-entropy (:func:`lm_cross_entropy`) and assign it to
    the ``head`` / ``middle`` / ``tail`` tercile of the corpus
    distribution — head = most fluent. Returns
    ``(id, n_bigrams, xent, ppl_bucket)``; docs too short to score
    (``xent`` NULL) get a NULL bucket.

    Compose with :func:`stratified_sample` on ``ppl_bucket`` for the
    paper's per-bucket downsampling (keep head, thin tail).

    Plan shape: the tercile cutoffs are ONE exact-percentile aggregate over
    the docs-sized score relation (a 1-row broadcast). The score relation
    is PERSISTED (docs-sized: id + two numbers) — it feeds both the cutoff
    aggregate and the output, and uncached the whole corpus-trained LM
    (bigram explode + vocabulary aggs + data-sized scoring join, the
    family's most expensive job) would execute twice. Same caller-release
    contract as ngram_jaccard_pairs."""
    from ..caching import pin

    lw = pin(lm_cross_entropy(docs, id_col, text_col, k))
    probs = F.array(F.lit(1.0 / 3.0), F.lit(2.0 / 3.0))
    cuts = lw.agg(F.percentile("xent", probs).alias("__c"))
    bucket = (F.when(F.col("xent").isNull(), F.lit(None).cast("string"))
              .when(F.col("xent") <= F.element_at("__c", 1), "head")
              .when(F.col("xent") <= F.element_at("__c", 2), "middle")
              .otherwise("tail"))
    return (lw.join(F.broadcast(cuts))
            .select(F.col(id_col), "n_bigrams", "xent",
                    bucket.alias("ppl_bucket")))


def stratified_sample(df: DataFrame, strata_col: str,
                      fractions: dict[str, float], key_col: str,
                      salt: str = "sample-v1") -> DataFrame:
    """Deterministic per-stratum subsample — the data-mixing primitive
    (re-weight sources/languages to a target distribution): keep each row
    with its stratum's probability, decided by an engine-portable content
    hash of ``key_col`` + salt, NOT an RNG. Same guarantees as the
    train/val split (queries/text.py corpus_split_profile): stable across
    reruns and repartitioning, duplicate keys sample identically, map-only
    at any scale (no shuffle, no driver state). Strata missing from
    ``fractions`` are dropped (fraction 0.0).

    Hash → uniform: first 8 hex digits of md5 → 32-bit integer, compared
    against ``fraction × 2^32`` (md5 so a DuckDB/any-engine twin can
    reproduce the exact sample bit-for-bit).
    """
    hv = F.conv(F.substring(
        F.md5(F.concat(F.col(key_col).cast("string"), F.lit("|" + salt))),
        1, 8), 16, 10).cast("long")
    frac = F.lit(0.0)
    for value, p in sorted(fractions.items()):
        frac = F.when(F.col(strata_col) == value, F.lit(float(p))).otherwise(frac)
    return df.filter(hv < frac * F.lit(float(1 << 32)))


def pack_sequences(docs: DataFrame, budget: int, n_shards: int = 1024,
                   id_col: str = "doc_id", text_col: str = "text",
                   tokens_col: str | None = None,
                   portable_shard: bool = False) -> DataFrame:
    """Assign every document to a training pack of ~``budget`` tokens:
    returns ``(id, n_tokens, shard, pack_id)`` with ``pack_id`` unique
    across shards. Deterministic: shard = hash(id) mod n_shards; docs pack
    in id order within their shard at cumulative-token offsets
    (``pack = floor(exclusive_cumsum / budget)``).

    This is offset packing, the distributed-standard approximation of
    first-fit: each pack's total is < budget + max_doc_tokens (exact
    first-fit is inherently sequential — a driver-side loop at any scale).
    Oversized docs (n_tokens ≥ budget) straddle pack boundaries and should
    be split/truncated upstream. Plan shape: one map pass for token counts,
    one per-shard sort-exchange for the cumsum — shards are independent, so
    the window never sorts globally and skew is bounded by 1/n_shards of
    the corpus (hash-uniform over ids).

    ``portable_shard=True`` derives the shard from md5 (first 8 hex digits
    mod n_shards) instead of xxhash64 so any engine — e.g. the DuckDB
    oracle — can reproduce the identical assignment bit-for-bit; the
    default xxhash64 is the cheaper JVM hash for production.

    Bounds: the cumulative sum and the division are exact int64 (integer
    ``div``, no double rounding); ``pack_id`` bit-packs shard ≪ 32 |
    pack_in_shard, which requires < 2^32 packs per shard — i.e. a shard
    token total under budget·2^32 (~2.2e12 tokens at budget 512). A shard
    holds 1/n_shards of the corpus, so even a 100 TB corpus (~2.5e13
    tokens) at the default 1024 shards sits ~5 orders of magnitude under
    the bound.
    """
    if budget <= 0 or n_shards <= 0:
        # fail at call time with the cause — budget=0 otherwise raises
        # DIVIDE_BY_ZERO deep inside the job under ANSI mode (or silently
        # nulls pack_id without it), n_shards=0 likewise via pmod
        raise ValueError("need budget > 0 and n_shards > 0")
    n_tok = (F.col(tokens_col) if tokens_col
             else token_count_regex(text_col)).alias("n_tokens")
    if portable_shard:
        shard = F.pmod(
            F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 8),
                   16, 10).cast("long"),
            F.lit(n_shards))
    else:
        shard = F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_shards))
    base = docs.select(F.col(id_col), n_tok, shard.alias("shard"))
    w = Window.partitionBy("shard").orderBy(id_col)
    cum_excl = (F.coalesce(F.sum("n_tokens").over(
        w.rowsBetween(Window.unboundedPreceding, -1)), F.lit(0)))
    pack_in_shard = F.expr(f"__cum_excl div {int(budget)}")
    return (base
            .withColumn("__cum_excl", cum_excl.cast("long"))
            .select(
                F.col(id_col), "n_tokens", "shard",
                (F.col("shard") * F.lit(1 << 32) + pack_in_shard)
                .alias("pack_id")))


def epoch_plan(packs: DataFrame, n_epochs: int,
               pack_col: str = "pack_id", shard_col: str = "shard",
               salt: str = "epoch-v1") -> DataFrame:
    """Deterministic per-epoch training order over packed sequences —
    the step after :func:`pack_sequences`: for each epoch, every pack
    gets a fresh pseudo-random position so the run never replays one
    fixed order (the standard between-epoch reshuffle), WITHOUT any RNG
    state: returns ``(epoch, shard, pack_id, epoch_order)`` where
    ``epoch_order`` ranks the shard's packs by the portable md5 hash of
    ``(pack_id, epoch, salt)`` (ties by pack_id — total order). A
    loader reading epoch e of shard s sorts its packs by
    ``epoch_order``; across shards the loader interleaves (shards are
    hash-uniform over ids, so any interleaving is unbiased).

    Determinism contract: a pure function of (pack_id, epoch, salt) —
    rerun-, repartition-, and engine-stable; the DuckDB twin is
    ``epoch_plan_sql`` (hash-checked in tests).

    Plan shape: the epoch fan-out is a bounded ``explode`` (n_epochs
    per pack — epochs are single digits), and the rank runs per
    ``(epoch, shard)`` — the pack_sequences convention: shards bound
    every sort at 1/n_shards of the corpus, nothing sorts globally.
    That bound assumes roughly uniform shards, which
    ``pack_sequences``' hash assignment guarantees; a CALLER feeding
    externally skewed shards puts the dominant shard's rank in one
    task (measured: per-row ratio 0.749 at 16× rows with a 90%-hot
    shard — still sub-linear, but re-shard first at scale).
    Duplicate pack rows are collapsed first (``pack_sequences`` emits
    one row per DOC; the plan is per PACK — docs-sized input, pack-
    sized output). NULL pack ids are excluded in BOTH engines: the
    engine's ``concat_ws`` hash would silently collapse distinct NULL
    packs onto one 'epoch|salt' rank while the SQL twin's ``||`` chain
    NULLs out — engine divergence on an id no loader could schedule
    anyway (``pack_sequences`` never emits them)."""
    if n_epochs <= 0:
        raise ValueError(f"epoch_plan: n_epochs={n_epochs} must be > 0")
    base = (packs.filter(F.col(pack_col).isNotNull())
            .select(pack_col, shard_col).distinct())
    fanned = base.withColumn(
        "epoch", F.explode(F.sequence(F.lit(0), F.lit(n_epochs - 1))))
    hv = _portable_hv(F.concat_ws("|", F.col(pack_col).cast("string"),
                                  F.col("epoch").cast("string"),
                                  F.lit(salt)))
    w = Window.partitionBy("epoch", shard_col).orderBy(
        hv.asc(), F.col(pack_col).asc())
    return fanned.select(
        "epoch", F.col(shard_col),
        F.col(pack_col),
        F.row_number().over(w).alias("epoch_order"))


def epoch_plan_sql(n_epochs: int, pack_expr: str = "pack_id",
                   shard_expr: str = "shard",
                   salt: str = "epoch-v1",
                   table: str = "packs") -> str:
    """DuckDB twin of :func:`epoch_plan` — same portable hash of
    ``pack_id|epoch|salt``, same (epoch, shard)-partitioned rank, same
    NULL-pack exclusion."""
    hv = ("CAST('0x' || substr(md5(CAST(pack_id AS VARCHAR) || '|' || "
          f"CAST(epoch AS VARCHAR) || '|' || '{salt}'), 1, 8) AS UBIGINT)")
    return f"""
    WITH p AS (
      SELECT DISTINCT {pack_expr} AS pack_id, {shard_expr} AS shard
      FROM {table} WHERE {pack_expr} IS NOT NULL
    ), f AS (
      SELECT pack_id, shard, unnest(range(0, {int(n_epochs)})) AS epoch
      FROM p
    )
    SELECT epoch, shard, pack_id,
           ROW_NUMBER() OVER (PARTITION BY epoch, shard
                              ORDER BY {hv} ASC, pack_id ASC)
             AS epoch_order
    FROM f
    """


def _portable_hv(col) -> F.Column:
    """Engine-portable 32-bit hash: first 8 hex digits of md5 (the same
    convention as ``stratified_sample`` / the train-val split, so any
    engine reproduces the value bit-for-bit)."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


def hashed_ngram_buckets(text_col: str, buckets: int,
                         salt: str = "dsir-v1") -> F.Column:
    """Per-row array of hashed n-gram feature buckets (lowercased word
    unigrams + bigrams, each md5-hashed into ``buckets``) — the hashed
    feature map of Xie et al. 2023 (DSIR, arXiv:2302.03169 §3). Map-only
    array expression; portable md5 so a DuckDB twin reproduces the exact
    bucket ids."""
    toks = _words(text_col)
    m = F.greatest(F.size(toks) - 1, F.lit(0))
    bigrams = F.zip_with(F.slice(toks, 1, m), F.slice(toks, 2, m),
                         lambda a, b: F.concat_ws(" ", a, b))
    feats = F.concat(toks, bigrams)
    return F.transform(
        feats,
        lambda g: F.pmod(_portable_hv(F.concat(g, F.lit("|" + salt))),
                         F.lit(buckets)))


def _dsir_scored(raw: DataFrame, target: DataFrame, id_col: str,
                 text_col: str, target_text_col: str, buckets: int,
                 smoothing: float, salt: str) -> DataFrame:
    """DSIR importance log-weights (Xie et al. 2023, arXiv:2302.03169):
    ``logw = Σ_f c_f(doc) · (ln p_target(f) − ln p_raw(f))`` with add-a
    smoothed bucket probabilities ``p(b) = (C[b]+a)/(N+a·B)``; high logw =
    looks like the target. One row per raw doc WITH features
    (``(id, n_feats, logw)``, logw never NULL): a featureless doc can
    never rank in :func:`dsir_topk`, so no docs-sized join restores it.

    Both bucket-count tables are ``buckets``-sized (the target corpus is
    small by construction; the raw count is a map-side-combinable
    groupBy), so the log-ratio table broadcasts and scoring is one
    map-only explode + broadcast join + per-doc sum."""
    a = float(smoothing)
    feats = hashed_ngram_buckets(text_col, buckets, salt)
    raw_f = raw.select(F.col(id_col), F.explode(feats).alias("__b"))
    tgt_f = target.select(F.explode(
        hashed_ngram_buckets(target_text_col, buckets, salt)).alias("__b"))
    rc = raw_f.groupBy("__b").agg(F.count(F.lit(1)).alias("__cr"))
    tc = tgt_f.groupBy("__b").agg(F.count(F.lit(1)).alias("__ct"))
    # totals as 1-row broadcast aggs over the (tiny) count tables
    rn = rc.agg(F.sum("__cr").alias("__nr"))
    tn = tc.agg(F.sum("__ct").alias("__nt"))
    ratio = (rc.join(tc, "__b", "left")
             .join(F.broadcast(rn)).join(F.broadcast(tn))
             .select(
                 "__b",
                 (F.log((F.coalesce(F.col("__ct"), F.lit(0)) + a)
                        / (F.col("__nt") + a * buckets))
                  - F.log((F.col("__cr") + a)
                          / (F.col("__nr") + a * buckets))).alias("__lr")))
    return (raw_f.join(F.broadcast(ratio), "__b")
            .groupBy(id_col).agg(
                F.count(F.lit(1)).alias("n_feats"),
                F.round(F.sum("__lr"), 6).alias("logw")))


def dsir_topk(raw: DataFrame, target: DataFrame, k: int,
              id_col: str = "doc_id", text_col: str = "text",
              target_text_col: str = "text", buckets: int = 4096,
              smoothing: float = 1.0, salt: str = "dsir-v1") -> DataFrame:
    """Select ``k`` raw documents by Gumbel-top-k over the DSIR
    log-weights — equivalent to sampling k docs WITHOUT replacement with
    probability ∝ exp(logw) (the Gumbel-max trick), but fully
    deterministic: the per-doc uniform comes from the portable content
    hash of the id + salt, not an RNG, so reruns, repartitioning, and
    engine twins reproduce the same sample. Returns
    ``(id, logw, dsir_score)`` — the k highest ``dsir_score = logw +
    Gumbel(hash)``, ties broken by id.

    Scale: the ranking is a TakeOrdered (per-partition top-k, driver
    merge of k·n_partitions rows) — no global sort; k is sample-sized."""
    lw = _dsir_scored(raw, target, id_col, text_col, target_text_col,
                      buckets, smoothing, salt)
    # u in (0,1): (hv+1)/(2^32+1) — never 0 or 1, so the double log is finite
    u = ((_portable_hv(F.concat(F.col(id_col).cast("string"),
                                F.lit("|" + salt))) + 1)
         / F.lit(float((1 << 32) + 1)))
    gumbel = -F.log(-F.log(u))
    return (lw
            .select(F.col(id_col), "logw",
                    F.round(F.col("logw") + gumbel, 6).alias("dsir_score"))
            .orderBy(F.col("dsir_score").desc(), F.col(id_col))
            .limit(k))


def hashed_tfidf_vectors(docs: DataFrame, id_col: str = "doc_id",
                         text_col: str = "text", dim: int = 256,
                         salt: str = "tfidf-v1",
                         out_col: str = "embedding") -> DataFrame:
    """L2-normalized hashed TF-IDF document vectors: ``(id, embedding)``
    with ``embedding`` an ``array<float>`` of length ``dim`` — the
    feature-hashing vectorizer (Weinberger et al. 2009) over the same
    unigram+bigram buckets as DSIR, with smoothed idf
    ``ln((1+N)/(1+df)) + 1`` (the standard public convention).

    This bridges the text family to the similarity stack: the output is
    drop-in for ``similarity.cosine_topk`` / ``cosine_near_dup_pairs`` /
    ``semantic_dedup`` (pass ``dim=dim``), giving text near-dup and
    retrieval WITHOUT a precomputed embedding column.

    NULL-text convention: a NULL-text doc has a NULL bucket
    array — it is EXCLUDED from the idf's N (it can never contribute
    document frequency) and its output vector is all-zero, which has
    cosine NULL (not 0) downstream because ``with_vec_inv`` nulls the
    inverse norm of zero vectors — so such docs never pair with anything.

    Plan shape at 100 TB: bucketing is a map-only array expression; the
    document-frequency table is ≤ ``dim`` rows (one vocabulary-sized agg
    with map-side combine) and ships to executors inside the vectorizer
    closure — the same KB-scale codebook-vs-corpus split as the IVF/PQ
    fits; vectorization is one Arrow-batched pandas UDF (numpy bincount +
    scale + normalize per doc), map-only over the scan. The only
    corpus-wide actions are the scan passes — nothing data-sized ever
    shuffles or reaches the driver.

    The fit TOKENIZES ONCE: the bucket relation is engine-pinned
    (caller-release contract) so the eager idf aggregate materializes it
    and the vectorizer pass reads the cache instead of re-running
    tokenize+md5 over the corpus — the measured dominant cost of this
    operator. That cache is CORPUS-SIZED (same order as the text itself,
    MEMORY_AND_DISK). The idf is fitted on ``docs`` itself, so vectors
    are comparable only within one call: vectorize batches that must be
    compared (day 1 ∪ day 2, train ∪ held-out) together, or each call's
    df/N would re-weight every bucket."""
    from pyspark.sql.functions import pandas_udf

    from ..caching import pin

    base = pin(docs.select(
        F.col(id_col), hashed_ngram_buckets(text_col, dim, salt).alias("__b")))
    # ONE corpus pass fits the whole idf table: a sentinel bucket (-1)
    # prepended to every non-null bucket array makes n_docs just another
    # row of the (≤ dim+1)-row document-frequency table, instead of a
    # second eager count() scan
    dfreq = (base.filter(F.col("__b").isNotNull())
             .select(F.explode(F.concat(
                 F.array(F.lit(-1)), F.array_distinct("__b"))).alias("__k"))
             .groupBy("__k").agg(F.count(F.lit(1)).alias("__df"))
             .collect())
    counts = {r["__k"]: r["__df"] for r in dfreq}
    n_docs = counts.pop(-1, 0)
    idf = np.ones(dim, dtype=np.float64)
    for k_, df_ in counts.items():
        idf[k_] = np.log((1.0 + n_docs) / (1.0 + df_)) + 1.0

    @pandas_udf("array<float>")
    def vectorize(buckets: pd.Series) -> pd.Series:
        zero = np.zeros(dim, dtype=np.float32)
        out = []
        for arr in buckets:
            if arr is None:  # NULL text propagates a NULL bucket array
                out.append(zero)
                continue
            tf = np.bincount(np.asarray(arr, dtype=np.int64),
                             minlength=dim).astype(np.float64)
            v = tf * idf
            n = np.linalg.norm(v)
            out.append((v / n if n > 0 else v).astype(np.float32))
        return pd.Series(out)

    return base.select(F.col(id_col), vectorize("__b").alias(out_col))


def flag_contaminated(docs: DataFrame, benchmark: DataFrame,
                      id_col: str = "doc_id", text_col: str = "text",
                      bench_text_col: str = "text", n: int = 13,
                      tokens_col: str | None = None) -> DataFrame:
    """Test-set decontamination flag: ``(id, contaminated)`` where a doc is
    contaminated iff it shares at least one word ``n``-gram with the
    benchmark corpus — the published decontamination recipe of public LLM
    training pipelines (GPT-3 appendix C's 13-gram overlap; PaLM / Llama
    report the same n-gram-collision form). Filter with
    ``.filter(~F.col("contaminated"))`` or keep the flag for audits.

    Plan shape (the scale point): benchmarks are MB-scale while the corpus
    is the 100 TB side, so the benchmark's DISTINCT shingles broadcast and
    the corpus pays one map-only shingle explode + broadcast LEFT SEMI join
    + a distinct on the (tiny) hit-id set — no corpus-sized shuffle
    anywhere. Shingling is shared with the near-dup family
    (dedup.word_shingles), so the tokenization semantics match exactly.
    """
    from .dedup import word_shingles

    doc_sh = word_shingles(docs, id_col, text_col, n, tokens_col=tokens_col)
    bench_sh = (word_shingles(
        benchmark.select(F.lit(0).alias("__bid"),
                         F.col(bench_text_col).alias("__bt")),
        "__bid", "__bt", n)
        .select("shingle").distinct())
    hit_ids = (doc_sh.join(F.broadcast(bench_sh), "shingle", "left_semi")
               .select(id_col).distinct())
    # hit_ids is benchmark-overlap-sized (tiny) — broadcast it so the flag
    # join is map-side too; without the hint Catalyst's conservative
    # post-aggregation size estimate can pick a sort-merge join and shuffle
    # the corpus id set, breaking the 'corpus never shuffles' contract.
    return (docs.select(id_col)
            .join(F.broadcast(hit_ids.withColumn("__c", F.lit(True))),
                  id_col, "left")
            .select(F.col(id_col),
                    F.coalesce("__c", F.lit(False)).alias("contaminated")))


def chunk_documents(docs: DataFrame, window: int = 512, stride: int = 384,
                    id_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    """Overlapping token-window chunks for training:
    ``(id, chunk_idx, n_tokens, chunk_text)`` — the long-document split
    that precedes packing (window > stride ⇒ ``window − stride`` tokens of
    overlap carry context across chunk boundaries).

    Every token lands in ≥1 chunk: starts are ``1 + k·stride`` for
    ``k = 0 .. ⌈(n_tok − window)/stride⌉`` (the last window is short when
    the tail is), and a doc shorter than one window yields exactly one
    chunk. NULL-text docs yield ZERO chunks — matching SQL NULL
    propagation in the DuckDB twin (a posexplode of a NULL-derived
    sequence would mint a phantom full-window chunk). Map-only:
    split + sequence + explode + slice, fan-out bounded by ⌈n_tok/stride⌉
    — no shuffle, streams through a 100 TB scan. The construction is
    SQL-expressible, so DuckDB oracles can verify it bit-for-bit.
    """
    if stride <= 0 or window <= 0 or stride > window:
        raise ValueError("need 0 < stride <= window")
    docs = docs.filter(F.col(text_col).isNotNull())
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    n_tok = F.size(toks)
    overflow = F.greatest(n_tok - window, F.lit(0))
    # ceil(overflow/stride) in exact integer arithmetic
    last_start = (F.floor((overflow + stride - 1) / stride) * stride + 1
                  ).cast("int")
    starts = F.sequence(F.lit(1), last_start, F.lit(stride))
    return (docs.select(F.col(id_col), toks.alias("__t"),
                        F.posexplode(starts).alias("chunk_idx", "__s"))
            .select(
                F.col(id_col), "chunk_idx",
                F.least(F.lit(window),
                        F.size("__t") - F.col("__s") + 1).alias("n_tokens"),
                F.concat_ws(" ", F.slice("__t", F.col("__s"), window))
                .alias("chunk_text")))

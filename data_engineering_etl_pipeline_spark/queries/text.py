"""Text-analysis & deduplication queries over the ``documents`` table
(SURVEY.md §2.11 north-star operators). Everything here is pure column
expressions (split/transform/filter/aggregate lambdas execute JVM-side) —
the oracles reproduce the identical token/shingle/hash constructions in
DuckDB list functions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..extensions.dedup import (dedup_clusters, duplicate_window_spans,
                                exact_dedup_groups, minhash_lsh_pairs,
                                ngram_jaccard_pairs, simhash64_portable)
from ..extensions.pii import (pii_counts, pii_counts_sql, scrub_pii,
                              scrub_pii_sql)
from ..extensions.cleaning import (c4_stats, c4_stats_sql, gopher_stats,
                                   gopher_stats_sql)
from ..extensions.text_stats import (duplicate_line_fraction, predict_lang,
                                     quality_score, rolling_fingerprint_udf,
                                     token_count_regex, tokens,
                                     top_ngram_fraction_udf)
from ..caching import pin
from ..io import load_table
from . import register


@register(
    "doc_exact_dedup",
    oracle="""
    WITH doubled AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 7 = 0
    ), day2 AS (
      SELECT doc_id + 1000000 AS doc_id, text
      FROM documents WHERE doc_id % 7 = 0
      UNION ALL
      SELECT doc_id + 2000000 AS doc_id, text || ' v2' AS text
      FROM documents WHERE doc_id % 5 = 0
    ), batch_keep AS (
      SELECT MIN(doc_id) AS doc_id, text FROM day2 GROUP BY text
    ), fresh AS (
      SELECT b.doc_id FROM batch_keep b
      WHERE NOT EXISTS (SELECT 1 FROM documents d
                        WHERE d.text IS NOT DISTINCT FROM b.text)
    ), day1_index AS (
      SELECT MIN(doc_id) AS keep_id FROM documents GROUP BY text
    )
    SELECT 'batch' AS stage, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies,
           CAST(NULL AS BIGINT) AS doc_id
    FROM doubled GROUP BY text HAVING COUNT(*) > 1
    UNION ALL
    SELECT 'incr_fresh' AS stage, CAST(NULL AS BIGINT) AS keep_id,
           CAST(NULL AS BIGINT) AS n_copies, doc_id
    FROM fresh
    UNION ALL
    SELECT 'index' AS stage, CAST(NULL AS BIGINT) AS keep_id,
           CAST(NULL AS BIGINT) AS n_copies, keep_id AS doc_id
    FROM day1_index
    UNION ALL
    SELECT 'index' AS stage, CAST(NULL AS BIGINT) AS keep_id,
           CAST(NULL AS BIGINT) AS n_copies, doc_id
    FROM fresh
    """,
)
def doc_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup — batch AND incremental — in one stage-tagged row.

    ``batch``: the two-phase fingerprint plan (keeper = min doc_id): the
    corpus-wide exchange groups on (xxhash64(text), length) — 12-byte keys —
    and only candidate rows (multi-member fingerprint groups) pay the exact
    text-equality resolver, so raw documents never shuffle as groupBy keys
    (plan pinned in tests/test_plans.py). Deterministic
    duplicates injected (every 7th doc re-appended) so the operator has work
    at every scale factor; output is bit-identical to a groupBy on text.

    ``incr_fresh``/``index``: the operator a
    production pipeline runs DAILY. Day-1 corpus → fingerprint index
    (:func:`doc_fingerprints`); day-2 ingest = replayed duplicates (every
    7th doc under a shifted id — all must drop against the index) plus
    genuinely-new docs (every 5th doc's text with a ' v2' suffix — all
    must survive, minus within-batch duplicate texts). ``incr_fresh``
    emits the surviving ids; ``index`` emits the updated index's keeper
    ids (day-1 keepers ∪ fresh keepers), value-checking the persisted
    state, not just the batch result. The oracle recomputes all three
    legs at raw-text level — the fingerprint plan must be bit-identical
    to text grouping (the Hypothesis property pins collision resolution;
    batch-split invariance is pinned in tests/test_properties.py)."""
    from ..extensions.dedup import doc_fingerprints, incremental_exact_dedup

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    dup7 = (docs.filter(F.col("doc_id") % 7 == 0)
            .withColumn("doc_id", F.col("doc_id") + 1000000))
    doubled = docs.unionByName(dup7)
    batch = (exact_dedup_groups(doubled, "doc_id", "text")
             .select(F.lit("batch").alias("stage"), "keep_id", "n_copies",
                     F.lit(None).cast("long").alias("doc_id")))

    day2 = dup7.unionByName(
        docs.filter(F.col("doc_id") % 5 == 0)
        .withColumn("doc_id", F.col("doc_id") + 2000000)
        .withColumn("text", F.concat(F.col("text"), F.lit(" v2"))))
    # pinned: the day-1 index subtree feeds BOTH the anti-join and the
    # updated-index union — unpinned, the fingerprint aggregate over the
    # day-1 scan would run twice; the builder-attached fp_total manifest
    # also skips the migration probe's eager materialization
    from ..caching import pin

    index = pin(doc_fingerprints(docs, "doc_id", "text"))
    fresh, updated = incremental_exact_dedup(day2, index, "doc_id", "text")
    nl = F.lit(None).cast("long")
    incr = fresh.select(F.lit("incr_fresh").alias("stage"),
                        nl.alias("keep_id"), nl.alias("n_copies"), "doc_id")
    idx = updated.select(F.lit("index").alias("stage"), nl.alias("keep_id"),
                         nl.alias("n_copies"),
                         F.col("keep_id").alias("doc_id"))
    return batch.unionByName(incr).unionByName(idx)


_SHINGLE_CTE = """
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM documents
    ), sh AS (
      SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
      FROM toks, UNNEST(CASE WHEN len(t) >= 3 THEN range(1, len(t)-1)
                             ELSE [] END) AS u(i)
    ), sizes AS (
      SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY 1
    ), pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS ni
      FROM sh a JOIN sh b USING (shingle)
      WHERE a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
"""


#: ``ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.5)``
#: over the raw documents table — the full value oracle of the
#: trigram-Jaccard builder (tests/test_queries_oracle.py::
#: test_doc_ngram_jaccard_library_query_matches_oracle).
NGRAM_JACCARD_ORACLE = _SHINGLE_CTE + """
    SELECT id_a, id_b,
           ROUND(ni * 1.0 / (sa.sz + sb.sz - ni), 6) AS jaccard
    FROM pairs
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE ni * 1.0 / (sa.sz + sb.sz - ni) >= 0.5
    """


def _minhash_coeff_cte() -> str:
    """The ``coeffs`` CTE of the incremental-minhash oracle: the exact
    ``(a_i, b_i)`` stream of :func:`minhash_signatures` at (64, seed 42),
    generated by the SHARED :func:`minhash_coefficients` helper and
    embedded as zipped unnest lists, so engine and oracle can never use
    different permutations."""
    from ..extensions.dedup import minhash_coefficients

    coeffs = minhash_coefficients(64, 42)
    a_list = ", ".join(str(a) for a, _ in coeffs)
    b_list = ", ".join(str(b) for _, b in coeffs)
    return f"""coeffs AS (
      SELECT unnest(range(0, 64)) AS i,
             unnest(CAST([{a_list}] AS BIGINT[])) AS a,
             unnest(CAST([{b_list}] AS BIGINT[])) AS b
    )"""


def _minhash_incremental_oracle() -> str:
    """DuckDB twin of the FULL ``doc_minhash_lsh`` row — the batch
    'pairs' leg (exact all-pairs Jaccard ≥ 0.8 over day-1 docs; valid
    because every LSH pair is exact-verified and the 32×2 band config's
    false-negative probability is ≈ 6e-15 per qualifying pair) PLUS the
    incremental legs, recomputed from raw text:
    portable-md5 minhash signatures (``minhash_token_hash_sql`` — the
    simhash64_portable recipe applied to minhash, bit-identical
    cross-engine), band keys as the signature-slice string (equal
    strings ⟺ equal Spark band hashes modulo an xxhash64 collision,
    the same astronomically-improbable caveat the 'pairs' leg already
    documents), within-batch exact-Jaccard verify + transitive-closure
    clustering, cross-batch SIGNATURE-estimated Jaccard (agreeing
    components / 64 ≥ 0.5) against day-1 keepers, so the cross-batch
    DECISION is hash-verified."""
    from ..extensions.dedup import minhash_token_hash_sql

    h_expr = minhash_token_hash_sql("shingle")
    return f"""
    WITH RECURSIVE {_minhash_coeff_cte()},
    day2 AS (
      SELECT doc_id + 1000000 AS doc_id, text
      FROM documents WHERE doc_id % 7 = 0
      UNION ALL
      SELECT doc_id + 2000000 AS doc_id, text || ' v2' AS text
      FROM documents WHERE doc_id % 5 = 0
      UNION ALL
      SELECT doc_id + 3000000 AS doc_id,
             array_to_string(list_reverse(
               string_split_regex(trim(text), '\\s+')), ' ') AS text
      FROM documents WHERE doc_id % 9 = 0
    ), allday AS (
      SELECT doc_id, text, 1 AS is_d1 FROM documents
      UNION ALL
      SELECT doc_id, text, 0 AS is_d1 FROM day2
    ), toks AS (
      SELECT doc_id, is_d1,
             string_split_regex(trim(text), '\\s+') AS t
      FROM allday
    ), sh AS (
      SELECT DISTINCT doc_id, is_d1,
             t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
      FROM toks, UNNEST(CASE WHEN len(t) >= 3 THEN range(1, len(t)-1)
                             ELSE [] END) AS u(i)
    ), sizes AS (
      SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY 1
    ), p1 AS (
      SELECT x.doc_id AS id_a, y.doc_id AS id_b, COUNT(*) AS ni
      FROM sh x JOIN sh y
        ON x.shingle = y.shingle AND x.doc_id < y.doc_id
      WHERE x.is_d1 = 1 AND y.is_d1 = 1
      GROUP BY 1, 2
    ), hs AS (
      SELECT doc_id, {h_expr} AS h FROM sh
    ), sigs AS (
      SELECT doc_id, i, MIN((a * h + b) % 2147483647) AS mh
      FROM hs CROSS JOIN coeffs GROUP BY doc_id, i
    ), bandk AS (
      SELECT doc_id, i // 4 AS band,
             string_agg(CAST(mh AS VARCHAR), '_' ORDER BY i) AS bkey
      FROM sigs GROUP BY doc_id, i // 4
    ), b2 AS (
      SELECT b.* FROM bandk b JOIN day2 d USING (doc_id)
    ), wcand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM b2 a JOIN b2 b
        ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
    ), winter AS (
      SELECT c.id_a, c.id_b, COUNT(*) AS ni
      FROM wcand c
      JOIN sh x ON x.doc_id = c.id_a
      JOIN sh y ON y.doc_id = c.id_b AND y.shingle = x.shingle
      GROUP BY 1, 2
    ), wpairs AS (
      SELECT id_a, id_b FROM winter
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b
      WHERE ni * 1.0 / (sa.sz + sb.sz - ni) >= 0.5
    ), edges AS (
      SELECT id_a AS s, id_b AS d FROM wpairs
      UNION
      SELECT id_b AS s, id_a AS d FROM wpairs
    ), reach(s, d) AS (
      SELECT s, d FROM edges
      UNION
      SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s
    ), wdrops AS (
      SELECT s AS doc_id FROM reach GROUP BY s
      HAVING LEAST(s, MIN(d)) <> s
    ), surv AS (
      SELECT doc_id FROM day2
      WHERE doc_id NOT IN (SELECT doc_id FROM wdrops)
    ), xc AS (
      SELECT DISTINCT sb.doc_id, db.doc_id AS keep_id
      FROM bandk sb
      JOIN surv s ON s.doc_id = sb.doc_id
      JOIN bandk db ON db.band = sb.band AND db.bkey = sb.bkey
      JOIN documents d1 ON d1.doc_id = db.doc_id
    ), agreec AS (
      SELECT x.doc_id, x.keep_id,
             COUNT(*) FILTER (WHERE s1.mh = s2.mh) AS na
      FROM xc x
      JOIN sigs s1 ON s1.doc_id = x.doc_id
      JOIN sigs s2 ON s2.doc_id = x.keep_id AND s2.i = s1.i
      GROUP BY 1, 2
    ), hits AS (
      SELECT DISTINCT doc_id FROM agreec WHERE na * 1.0 / 64 >= 0.5
    ), fresh AS (
      SELECT doc_id FROM surv
      WHERE doc_id NOT IN (SELECT doc_id FROM hits)
    ), idx AS (
      SELECT d.doc_id FROM documents d
      WHERE EXISTS (SELECT 1 FROM sh WHERE sh.doc_id = d.doc_id)
      UNION
      SELECT f.doc_id FROM fresh f
      WHERE EXISTS (SELECT 1 FROM sh WHERE sh.doc_id = f.doc_id)
    )
    SELECT 'pairs' AS stage, id_a, id_b,
           ROUND(ni * 1.0 / (sa.sz + sb.sz - ni), 6) AS jaccard,
           CAST(NULL AS BIGINT) AS doc_id
    FROM p1
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE ni * 1.0 / (sa.sz + sb.sz - ni) >= 0.8
    UNION ALL
    SELECT 'ngram' AS stage, id_a, id_b,
           ROUND(ni * 1.0 / (sa.sz + sb.sz - ni), 6) AS jaccard,
           CAST(NULL AS BIGINT) AS doc_id
    FROM p1
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE ni * 1.0 / (sa.sz + sb.sz - ni) >= 0.5
    UNION ALL
    SELECT 'incr_fresh' AS stage, CAST(NULL AS BIGINT) AS id_a,
           CAST(NULL AS BIGINT) AS id_b, CAST(NULL AS DOUBLE) AS jaccard,
           doc_id
    FROM fresh
    UNION ALL
    SELECT 'index' AS stage, CAST(NULL AS BIGINT) AS id_a,
           CAST(NULL AS BIGINT) AS id_b, CAST(NULL AS DOUBLE) AS jaccard,
           doc_id
    FROM idx
    """


@register("doc_minhash_lsh", oracle=_minhash_incremental_oracle())
def doc_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup dedup — batch AND incremental — in one
    stage-tagged row (the cross-batch DECISION is on the driver's
    hash-verified record).

    ``pairs``: MinHash(64 perms) + LSH(32 bands × 2 rows) candidate
    pairs over the documents table, verified with exact Jaccard ≥ 0.8.
    Because every emitted pair is exact-verified (no false positives)
    and the band config makes the false-negative probability
    ≈ (1−0.8²)³² ≈ 6e-15 per qualifying pair, exact all-pairs Jaccard is
    a valid deterministic oracle for this leg.

    ``incr_fresh``/``index``: the operator a continuous crawl runs DAILY
    (:func:`incremental_minhash_lsh_dedup` under the PORTABLE md5
    minhash config, 64 perms × 16 bands, threshold 0.5). Day-1 corpus →
    band index; day-2 ingest = replayed exact copies (every 7th doc,
    id+1e6 — estimate 1.0, must drop), lightly-mutated docs (every 5th,
    text+' v2', id+2e6 — the signature-estimated Jaccard decides
    per-doc) and token-REVERSED docs (every 9th, id+3e6 — trigram
    overlap destroyed, must survive minus within-batch collisions).
    ``incr_fresh`` emits the surviving ids; ``index`` the updated
    index's distinct keeper ids (shingle-bearing day-1 docs ∪ fresh).
    The oracle recomputes signatures/bands/estimates from raw text in
    SQL — portable md5 base hash via the shared recipe, shared
    coefficient stream — so the cross-batch drop decision is
    bit-verified end-to-end, closing the one unverified decision
    surface of the dedup family.

    ``ngram``: the exact word-trigram Jaccard near-dup pairs (threshold
    0.5) of :func:`ngram_jaccard_pairs` as a fourth grain — same
    documents table, same (id_a, id_b, jaccard) pair grain, and the
    oracle's existing day-1 pair CTE serves both thresholds, so the
    whole inverted-shingle-index machinery (hot-shingle DF cap included)
    stays value-verified under one slot. The builder over the raw
    documents table keeps its full oracle as a unit
    (``NGRAM_JACCARD_ORACLE``, tests/test_queries_oracle.py::
    test_doc_ngram_jaccard_library_query_matches_oracle)."""
    from ..extensions.dedup import (incremental_minhash_lsh_dedup,
                                    minhash_band_index)

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    pairs = minhash_lsh_pairs(docs, "doc_id", "text", n=3,
                              num_perm=64, bands=32, threshold=0.8)
    nl = F.lit(None).cast("long")
    nd = F.lit(None).cast("double")
    pairs_leg = pairs.select(F.lit("pairs").alias("stage"), "id_a", "id_b",
                             "jaccard", nl.alias("doc_id"))
    ngram_leg = (ngram_jaccard_pairs(docs, "doc_id", "text", n=3,
                                     threshold=0.5)
                 .select(F.lit("ngram").alias("stage"), "id_a", "id_b",
                         "jaccard", nl.alias("doc_id")))

    day2 = (docs.filter(F.col("doc_id") % 7 == 0)
            .withColumn("doc_id", F.col("doc_id") + 1000000)
            .unionByName(
                docs.filter(F.col("doc_id") % 5 == 0)
                .withColumn("doc_id", F.col("doc_id") + 2000000)
                .withColumn("text", F.concat(F.col("text"), F.lit(" v2"))))
            .unionByName(
                docs.filter(F.col("doc_id") % 9 == 0)
                .withColumn("doc_id", F.col("doc_id") + 3000000)
                .withColumn("text", F.array_join(
                    F.reverse(F.split(F.trim(F.col("text")), r"\s+")),
                    " "))))
    # pinned: the day-1 index subtree feeds BOTH the cross-batch candidate
    # join and the updated-index union — unpinned, the md5 signature
    # expressions (the row's priciest codegen) would run twice; the
    # builder-attached manifest makes the ingest config check
    # metadata-only
    from ..caching import pin

    index = pin(minhash_band_index(docs, "doc_id", "text", n=3, num_perm=64,
                                   bands=16, seed=42, hash_fn="md5"))
    fresh, updated = incremental_minhash_lsh_dedup(
        day2, index, "doc_id", "text", n=3, num_perm=64, bands=16,
        threshold=0.5, seed=42, hash_fn="md5")
    incr = fresh.select(F.lit("incr_fresh").alias("stage"),
                        nl.alias("id_a"), nl.alias("id_b"),
                        nd.alias("jaccard"), "doc_id")
    idx = (updated.select("keep_id").distinct()
           .select(F.lit("index").alias("stage"), nl.alias("id_a"),
                   nl.alias("id_b"), nd.alias("jaccard"),
                   F.col("keep_id").alias("doc_id")))
    return (pairs_leg.unionByName(ngram_leg).unionByName(incr)
            .unionByName(idx))


_CLUSTERS_ORACLE = _SHINGLE_CTE.replace("WITH", "WITH RECURSIVE", 1) + """
    , jac AS (
      SELECT id_a, id_b FROM pairs
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b
      WHERE ni * 1.0 / (sa.sz + sb.sz - ni) >= 0.5
    ), edges AS (
      SELECT id_a AS s, id_b AS d FROM jac
      UNION
      SELECT id_b AS s, id_a AS d FROM jac
    ), reach(s, d) AS (
      SELECT s, d FROM edges
      UNION
      SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s
    )
    SELECT s AS member_id, LEAST(s, MIN(d)) AS cluster_id
    FROM reach GROUP BY s
    """


@register("doc_dedup_clusters", oracle=_CLUSTERS_ORACLE)
def doc_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTER resolution: trigram-Jaccard pairs (≥0.5) → connected
    components by min-label propagation → one keeper per cluster. The
    post-pair step of a production dedup pipeline. Oracle: recursive
    transitive closure over the same pair graph (cluster id = min reachable
    id) — the closure is tiny because near-dup components are; the unit test
    additionally diffs against a driver-side union-find."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.5)
    return dedup_clusters(pairs)


#: md5-portable SimHash-64 CTE chain (tokenize → distinct → hash → 64 bit
#: votes → sign → OR-fold), joined into the ``doc_text_stats`` oracle so
#: the full construction is driver-verified.
_SIMHASH_CTE = """
    stoks AS (
      SELECT doc_id,
             unnest(list_distinct(string_split_regex(trim(text), '\\s+'))) AS tok
      FROM documents
    ), sh AS (
      SELECT doc_id, md5(tok) AS m FROM stoks
    ), sbits AS (
      SELECT doc_id, i,
             CASE WHEN ((strpos('0123456789abcdef',
                                substr(m, CAST(1 + (i // 4) AS INT), 1)) - 1)
                        >> CAST(3 - (i % 4) AS INT)) & 1 = 1
                  THEN 1 ELSE -1 END AS vote
      FROM sh CROSS JOIN (SELECT unnest(range(0, 64)) AS i)
    ), svotes AS (
      SELECT doc_id, i, SUM(vote) AS v FROM sbits GROUP BY doc_id, i
    ), sig AS (
      SELECT doc_id,
             CAST(SUM(CASE WHEN v > 0 THEN
                   CASE WHEN i = 63 THEN CAST(-9223372036854775808 AS BIGINT)
                        ELSE (CAST(1 AS BIGINT) << CAST(i AS INT)) END
                 ELSE 0 END) AS BIGINT) AS simhash
      FROM svotes GROUP BY doc_id
    )"""


_LANG_SETS = {
    "de": ("der", "die", "und", "das", "von", "den", "im", "ein", "zu", "mit"),
    "en": ("the", "and", "of", "to", "a", "in", "is", "it", "that", "for"),
    "es": ("el", "la", "de", "que", "y", "en", "un", "los", "se", "por"),
    "fr": ("le", "la", "de", "et", "les", "des", "en", "un", "du", "que"),
    "zh": ("的", "了", "是", "在", "我", "有", "和", "就", "不", "人"),
}
_LANG_SCORE_SQL = "\n".join(
    "        len(list_filter(lt, x -> x IN ({}))) AS {}_n,".format(
        ",".join(f"'{w}'" for w in ws), code)
    for code, ws in _LANG_SETS.items()).rstrip(",")

#: planted trained-lang-ID model for the `pred_lang_trained` columns —
#: the `quality_classifier_gate` recipe (seeded constants both engines
#: embed verbatim) applied to the lang-ID decision machinery: hashed
#: char-bigram featurization → K fixed-point score folds → argmax with
#: ascending tiebreak → 'und' fallback for feature-less docs. The fit
#: itself stays byte-stable-unit-verified (libm exp — the documented
#:  non-oracle-able surface); this row value-checks every PREDICTION step.
_LANGID_TRAINED_SEED = 1117


def _langid_model() -> dict:
    from ..extensions.langid import planted_lang_id

    return planted_lang_id(tuple(_LANG_SETS), _LANGID_TRAINED_SEED)


def _langid_trained_sql() -> tuple[str, str, str, str]:
    """(buckets_expr, freq_expr, z-columns, final SELECT snippet) for the
    trained-lang-ID legs of the ``doc_text_stats`` oracle — built from
    the SAME model constants and SQL builders the engine path uses."""
    from ..extensions.langid import (char_buckets_sql, char_freq_sql,
                                     lang_id_scores_sql)

    model = _langid_model()
    z = lang_id_scores_sql(model)
    langs = sorted(z)
    zcols = ",\n             ".join(f"{z[lang]} AS z_{lang}"
                                   for lang in langs)
    g = "greatest(" + ", ".join(f"z_{lang}" for lang in langs) + ")"
    pred = ("CASE WHEN zq_trained IS NULL THEN 'und' "
            + " ".join(f"WHEN z_{lang} = zq_trained THEN '{lang}'"
                       for lang in langs[:-1])
            + f" ELSE '{langs[-1]}' END")
    return (char_buckets_sql(model, "text"), char_freq_sql(model),
            zcols, (g, pred))


_LANGID_BK_SQL, _LANGID_FREQ_SQL, _LANGID_Z_SQL, \
    (_LANGID_G_SQL, _LANGID_PRED_SQL) = _langid_trained_sql()


@register(
    "doc_text_stats",
    oracle=f"""
    WITH {_SIMHASH_CTE},
    toks AS (
      SELECT doc_id, lang, string_split_regex(trim(text), '\\s+') AS t, text,
             list_filter(string_split(text, chr(10)), x -> x <> '') AS ln
      FROM documents
    ), scored AS (
      SELECT *, list_transform(t, x -> lower(x)) AS lt FROM toks
    ), langed AS (
      SELECT doc_id, lang, t, text, ln,
{_LANG_SCORE_SQL}
      FROM scored
    ), grams AS (
      SELECT doc_id, t[i] || ' ' || t[i+1] AS gram
      FROM toks, LATERAL (SELECT unnest(range(1, len(t))) AS i)
    ), mode AS (
      SELECT doc_id, MAX(c) AS best, SUM(c) AS total
      FROM (SELECT doc_id, gram, COUNT(*) AS c FROM grams GROUP BY 1, 2)
      GROUP BY 1
    ), bk AS (
      SELECT doc_id, {_LANGID_BK_SQL} AS __bk FROM documents
    ), fv AS (
      SELECT doc_id, {_LANGID_FREQ_SQL} AS freq FROM bk
    ), lz AS (
      SELECT doc_id,
             {_LANGID_Z_SQL}
      FROM fv
    ), tr AS (
      SELECT *, {_LANGID_G_SQL} AS zq_trained FROM lz
    )
    SELECT doc_id, lang,
           CAST(len(t) AS BIGINT) AS n_tokens,
           CAST(len(regexp_extract_all(text, '[A-Za-z0-9_]+|[^A-Za-z0-9_\\s]'))
                AS BIGINT) AS n_tokens_bpe,
           ROUND(CAST(list_sum(list_transform(t, x -> length(x))) AS DOUBLE)
                 / len(t), 4) AS avg_token_len,
           CAST(CASE WHEN length(text) = 0 THEN 0
                ELSE list_reduce(
                  list_transform(range(1, length(text) + 1), i -> ascii(text[i])),
                  (a, b) -> (CAST(a AS BIGINT) * 31 + b) % 1000000007)
                END AS BIGINT) AS fingerprint,
           CASE WHEN greatest(de_n, en_n, es_n, fr_n, zh_n) = 0 THEN 'und'
                WHEN de_n = greatest(de_n, en_n, es_n, fr_n, zh_n) THEN 'de'
                WHEN en_n = greatest(de_n, en_n, es_n, fr_n, zh_n) THEN 'en'
                WHEN es_n = greatest(de_n, en_n, es_n, fr_n, zh_n) THEN 'es'
                WHEN fr_n = greatest(de_n, en_n, es_n, fr_n, zh_n) THEN 'fr'
                ELSE 'zh' END AS pred_lang,
           ROUND(
             least(length(text) / 500.0, 1.0)
             * (1 - CASE WHEN length(regexp_replace(text, '\\s+', '', 'g')) > 0
                         THEN CAST(length(regexp_replace(text, '[\\p{{L}}\\p{{N}}\\s]', '', 'g')) AS DOUBLE)
                              / length(regexp_replace(text, '\\s+', '', 'g'))
                         ELSE 0.0 END)
             * CASE WHEN len(t) > 0
                    THEN CAST(len(list_filter(t, x -> regexp_matches(x, '^\\p{{L}}+$'))) AS DOUBLE)
                         / len(t)
                    ELSE 0.0 END, 6) AS quality,
           ROUND(CASE WHEN len(ln) > 0
                      THEN 1.0 - CAST(len(list_distinct(ln)) AS DOUBLE) / len(ln)
                      ELSE 0.0 END, 6) AS dup_line_frac,
           ROUND(COALESCE(m.best * 1.0 / m.total, 0.0), 6) AS top_bigram_frac,
           CAST(COALESCE(s.simhash, 0) AS BIGINT) AS simhash,
           {_LANGID_PRED_SQL} AS pred_lang_trained,
           zq_trained
    FROM langed LEFT JOIN mode m USING (doc_id)
    LEFT JOIN sig s USING (doc_id)
    LEFT JOIN tr USING (doc_id)
    """,
)
def doc_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document text metrics in one corpus pass: token counting
    (whitespace + BPE-ish regex), the polynomial rolling-hash document
    fingerprint, the stopword-profile language-ID heuristic (argmax
    stopword hits over lowercased tokens, ties → alphabetically first, no
    hits → 'und'), the composite quality heuristic (length ×
    clean-punctuation × alpha-token fraction), and the Gopher/MassiveText
    within-document repetition signals (duplicate-line fraction as a pure
    array expression; top-bigram fraction via the Arrow mode-count kernel
    ``top_ngram_fraction_udf`` — the expression fold is interpreted at
    ~2-3 ms/doc and lives on as the pure-SQL twin, equality unit-pinned;
    the oracle recomputes the mode the relational way, so the kernel's
    construction is what the driver verifies). ONE token split feeds all
    the stats. The row also carries the md5-portable SimHash-64
    signature, joined on doc_id.

    It also carries the TRAINED lang-ID decision surface
    (``pred_lang_trained``/``zq_trained``): the production
    ``langid.predict_lang_trained`` path — hashed char-bigram
    relative-frequency featurization, one fixed-point score fold per
    language, argmax with ascending tiebreak, 'und' for feature-less
    docs — under a PLANTED model (``planted_lang_id``, the
    ``quality_classifier_gate`` seeded-constants recipe), so every step
    the real fitted model drives in production is hash-verified against
    a DuckDB twin built from the same model literals; the byte-stable
    fit itself stays unit-verified (libm exp — the documented
    non-oracle-able surface). Map-only: weights ride as literals — no
    shuffle, no Python."""
    from ..extensions.langid import predict_lang_trained

    raw = load_table(spark, sf_dir, "documents")
    # Materialize the token array once per row (see dedup.word_shingles —
    # inlining the split into every consumer re-runs the regex per reference).
    docs = raw.select("doc_id", "lang", "text", tokens("text").alias("__toks"))
    t = F.col("__toks")
    # ONE map-only pipeline: the trained-lang-ID
    # prediction rides the same projection via carry_cols instead of a
    # third documents scan joined back on doc_id (two exchanges gone at
    # scale; the join was corpus × corpus), and the simhash vote
    # aggregate — the row's only genuine shuffle — reattaches through
    # the existing left join + coalesce(0) instead of
    # _simhash_from_votes' own restore join against a fourth scan.
    trained = predict_lang_trained(
        raw, _langid_model(), out_col="pred_lang_trained", fallback="und",
        carry_cols=("lang", "text")
    ).withColumnRenamed("z_q", "zq_trained").withColumn("__toks",
                                                        tokens("text"))
    # O(len)/doc Arrow form; integer-equal to the oracle's list_reduce
    # recurrence (the pure-expression twin is rolling_fingerprint — O(len²))
    fingerprint = rolling_fingerprint_udf("text")
    avg_len = F.aggregate(
        F.transform(t, lambda x: F.length(x)), F.lit(0).cast("long"),
        lambda acc, x: acc + x).cast("double") / F.size(t)
    stats = trained.select(
        "doc_id", "lang",
        F.size(t).cast("long").alias("n_tokens"),
        token_count_regex("text").cast("long").alias("n_tokens_bpe"),
        F.round(avg_len, 4).alias("avg_token_len"),
        fingerprint.alias("fingerprint"),
        # raw tokens: stopword_count lowers per element anyway, and
        # lower() is idempotent — a transform(t, lower) argument would pay
        # one extra full array pass per language count
        predict_lang(t).alias("pred_lang"),
        # share the materialized token array (quality_score would
        # otherwise re-split the text for its alpha-token fraction)
        quality_score("text", toks=t).alias("quality"),
        F.round(duplicate_line_fraction("text"), 6).alias("dup_line_frac"),
        F.round(top_ngram_fraction_udf("text", 2), 6).alias("top_bigram_frac"),
        "pred_lang_trained", "zq_trained",
    )
    sig = simhash64_portable(docs, "doc_id", "text", tokens_col="__toks",
                             restore=False)
    return (stats.join(sig, "doc_id", "left")
            .withColumn("simhash",
                        F.coalesce(F.col("simhash"), F.lit(0).cast("long"))))


#: corpus_split_profile's value oracle: the profile is the 'profile' stage
#: grain of prep_training_corpus's chained oracle, and this full twin
#: checks the construction alone (tests/test_queries_oracle.py).
CORPUS_SPLIT_PROFILE_ORACLE = """
    WITH h AS (
      SELECT doc_id, lang, length(text) AS n_chars,
             list_sum(list_transform(range(0, 8), i ->
               CAST(strpos('0123456789abcdef',
                           substr(md5(text || '|split-v1'), CAST(i + 1 AS INT), 1)) - 1
                    AS BIGINT) << CAST((7 - i) * 4 AS INT))) AS hv
      FROM documents
    ), s AS (
      SELECT lang, n_chars,
             CASE WHEN hv % 100 < 90 THEN 'train' ELSE 'val' END AS split
      FROM h
    )
    SELECT split, lang,
           COUNT(*) AS n_docs,
           ROUND(quantile_cont(n_chars, 0.25), 4) AS len_p25,
           ROUND(quantile_cont(n_chars, 0.5), 4) AS len_p50,
           ROUND(quantile_cont(n_chars, 0.75), 4) AS len_p75,
           ROUND(quantile_cont(n_chars, 0.95), 4) AS len_p95
    FROM s GROUP BY 1, 2
    """


def corpus_split_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic content-hash train/val split (90/10) PROFILED by exact
    per-(split, language) document-length quantiles (the hash-split
    assignment feeds the group key, so a single misassigned doc breaks
    both the counts and the quantiles; the per-doc split twin keeps a
    unit oracle in tests/test_corpus_ops.py). On the driver record as the
    'profile' stage grain of ``prep_training_corpus``; the full value
    oracle stays hash-checked as a unit via
    ``CORPUS_SPLIT_PROFILE_ORACLE``.

    Split: pure function of the text + salt (md5 first 8 hex digits →
    32-bit value mod 100) — leakage-safe, stable across reruns and
    repartitioning, exact duplicates always co-assigned. Map-only before
    the profile agg. Quantiles: Spark's exact ``percentile`` (linear
    interpolation, same semantics as DuckDB ``quantile_cont``); at 100 TB
    swap in ``approx_percentile`` (KLL-family sketch, map-side combinable)
    — same plan shape, and a TESTED contract: per-group rank
    error of every quantile within n_g/accuracy + 1 at sf0.1
    (tests/test_scale_toolkit.py)."""
    docs = load_table(spark, sf_dir, "documents")
    hv = F.conv(F.substring(F.md5(F.concat(F.col("text"), F.lit("|split-v1"))),
                            1, 8), 16, 10).cast("long")
    split = (F.when(hv % 100 < 90, F.lit("train")).otherwise(F.lit("val"))
             .alias("split"))
    ln = F.length("text")
    qs = F.percentile(ln, F.array(*[F.lit(q) for q in (0.25, 0.5, 0.75, 0.95)]))
    agg = docs.groupBy(split, "lang").agg(
        F.count(F.lit(1)).alias("n_docs"), qs.alias("__q"))
    return agg.select(
        "split", "lang", "n_docs",
        F.round(F.element_at("__q", 1), 4).alias("len_p25"),
        F.round(F.element_at("__q", 2), 4).alias("len_p50"),
        F.round(F.element_at("__q", 3), 4).alias("len_p75"),
        F.round(F.element_at("__q", 4), 4).alias("len_p95"),
    )


# Deterministic multi-line page construction for the cleaning suite: the
# synthetic documents are single-line with no punctuation, so the registry
# row builds a page from each doc's own tokens plus planted boilerplate
# lines — identically on both engines — exercising every C4 rule (terminal-
# punctuation, min-words, the javascript line, the lorem-ipsum page flag
# (doc_id%5), the curly-bracket page flag (doc_id%7), the 3-sentence page
# minimum) and every Gopher line/symbol rule (bullet line doc_id%3,
# ellipsis-terminated line doc_id%4, '#' symbols doc_id%6).
_C4_PAGE_SQL = """
      array_to_string(t[1:8], ' ') || '.'
      || chr(10) || array_to_string(t[1:3], ' ') || '.'
      || chr(10) || 'Please enable JavaScript to view the comments.'
      || chr(10) || COALESCE(array_to_string(t[9:16], ' '), '')
      || CASE WHEN doc_id % 5 = 0
              THEN chr(10) || 'It uses lorem ipsum placeholder text.'
              ELSE '' END
      || CASE WHEN doc_id % 7 = 0
              THEN chr(10) || 'function f() { return 1; }' ELSE '' END
      || CASE WHEN doc_id % 3 = 0
              THEN chr(10) || '• ' || array_to_string(t[1:2], ' ')
              ELSE '' END
      || CASE WHEN doc_id % 4 = 0
              THEN chr(10) || COALESCE(array_to_string(t[4:6], ' '), '')
                   || '...'
              ELSE '' END
      || CASE WHEN doc_id % 6 = 0
              THEN chr(10) || 'Tags: #data #corpus' ELSE '' END
      || chr(10) || COALESCE(array_to_string(t[17:28], ' '), '')
      || ' done today.'
      || chr(10) || 'That is all. Nothing else!'
"""


def synthetic_page() -> F.Column:
    """Deterministic multi-line page from a doc's own tokens + planted
    boilerplate (the Spark twin of ``_C4_PAGE_SQL``) — shared by
    ``doc_c4_line_filter`` and the ``prep_training_corpus`` row so the
    cleaning suite and the end-to-end pipeline see the same pages."""
    t = tokens("text")
    nl = F.lit("\n")
    return F.concat(
        F.concat_ws(" ", F.slice(t, 1, 8)), F.lit("."),
        nl, F.concat_ws(" ", F.slice(t, 1, 3)), F.lit("."),
        nl, F.lit("Please enable JavaScript to view the comments."),
        nl, F.concat_ws(" ", F.slice(t, 9, 8)),
        F.when(F.col("doc_id") % 5 == 0,
               F.concat(nl, F.lit("It uses lorem ipsum placeholder text.")))
        .otherwise(F.lit("")),
        F.when(F.col("doc_id") % 7 == 0,
               F.concat(nl, F.lit("function f() { return 1; }")))
        .otherwise(F.lit("")),
        F.when(F.col("doc_id") % 3 == 0,
               F.concat(nl, F.lit("• "), F.concat_ws(" ", F.slice(t, 1, 2))))
        .otherwise(F.lit("")),
        F.when(F.col("doc_id") % 4 == 0,
               F.concat(nl, F.concat_ws(" ", F.slice(t, 4, 3)), F.lit("...")))
        .otherwise(F.lit("")),
        F.when(F.col("doc_id") % 6 == 0,
               F.concat(nl, F.lit("Tags: #data #corpus")))
        .otherwise(F.lit("")),
        nl, F.concat_ws(" ", F.slice(t, 17, 12)), F.lit(" done today."),
        nl, F.lit("That is all. Nothing else!"),
    )


# Deterministic PII injection: the synthetic documents carry no PII, so the
# registry row plants addresses/numbers derived from doc_id — identically on
# both sides — and the masking must remove exactly what the counts found.
_PII_AUG_SQL = """
      text || ' Contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
      || CASE WHEN doc_id % 3 = 0
              THEN ' ip 10.' || CAST(doc_id % 200 AS VARCHAR) || '.'
                   || CAST((doc_id * 7) % 250 AS VARCHAR) || '.7'
              ELSE '' END
      || CASE WHEN doc_id % 4 = 0
              THEN ' ssn 123-45-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
              ELSE '' END
      || CASE WHEN doc_id % 5 = 0 THEN ' card 4111 1111 1111 1111' ELSE '' END
      || CASE WHEN doc_id % 6 = 0 THEN ' call 555-867-5309' ELSE '' END
"""


@register(
    "doc_cleaning_suite",
    oracle="WITH toks AS (\n  SELECT doc_id, text,"
    " string_split_regex(trim(text), '\\s+') AS t FROM documents\n"
    "), pages AS (\n  SELECT doc_id, text, " + _C4_PAGE_SQL
    + " AS __page\n  FROM toks\n), aug AS (\n  SELECT doc_id, __page, "
    + _PII_AUG_SQL
    + " AS __t\n  FROM pages\n)\nSELECT doc_id,\n       "
    + ",\n       ".join(c4_stats_sql("__page") + gopher_stats_sql("__page")
                        + pii_counts_sql("__t"))
    + ",\n       " + scrub_pii_sql("__t") + " AS scrubbed\nFROM aug",
)
def doc_cleaning_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full map-only document-cleaning suite in ONE projection — C4
    line filtering and PII scrubbing are both single-scan map-only passes
    over ``documents``, so one scan serves both: zero shuffle, zero
    Python, every column hash-checked.

    C4 line rules (Raffel et al. 2020 §2.2): keep lines ending in
    terminal punctuation with >=5 words and no 'javascript'; drop pages
    with 'lorem ipsum', a curly bracket, or <3 sentences after cleaning —
    emits line counts, the cleaned text itself (bit-for-bit), sentence
    count, and the page verdict. Gopher/MassiveText document rules (Rae
    et al. 2021 Appendix A1.1): word-count bounds, mean word length,
    symbol-to-word ratio, bullet/ellipsis line fractions, alphabetic-word
    fraction, stop-word floor, composite ``keep_doc``. PII redaction
    (extensions/pii.py): per-doc counts of emails / cards / SSNs / IPv4s /
    phones and the scrubbed text (RE2-compatible patterns, so DuckDB
    recomputes counts AND masked text bit-for-bit). Pages and PII are
    planted deterministically from each doc's tokens/doc_id, so every
    rule fires at every scale factor."""
    docs = load_table(spark, sf_dir, "documents")
    d = F.col("doc_id")
    aug = F.concat(
        F.col("text"),
        F.lit(" Contact user"), d.cast("string"), F.lit("@example.com"),
        F.when(d % 3 == 0, F.concat(
            F.lit(" ip 10."), (d % 200).cast("string"), F.lit("."),
            ((d * 7) % 250).cast("string"), F.lit(".7"))).otherwise(F.lit("")),
        F.when(d % 4 == 0, F.concat(
            F.lit(" ssn 123-45-"),
            F.lpad((d % 10000).cast("string"), 4, "0"))).otherwise(F.lit("")),
        F.when(d % 5 == 0, F.lit(" card 4111 1111 1111 1111"))
         .otherwise(F.lit("")),
        F.when(d % 6 == 0, F.lit(" call 555-867-5309")).otherwise(F.lit("")),
    )
    base = docs.select("doc_id", synthetic_page().alias("__page"),
                       aug.alias("__t"))
    return base.select(
        "doc_id", *c4_stats("__page"), *gopher_stats("__page"),
        *pii_counts("__t"), scrub_pii("__t").alias("scrubbed"))


# DuckDB twin of the engine's portable 32-bit md5-prefix hash (shared
# convention with corpusq._MD5_32; no conv() in DuckDB).
_MD5_32 = """list_sum(list_transform(range(0, 8), i ->
        CAST(strpos('0123456789abcdef',
                    substr(md5({arg}), CAST(i + 1 AS INT), 1)) - 1
             AS BIGINT) << CAST((7 - i) * 4 AS INT)))"""


@register(
    "doc_tfidf_near_dup",
    oracle="""
    WITH doubled AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 7 = 0
    ), base AS (
      SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\\s+'), x -> x <> '') AS t
      FROM doubled WHERE text IS NOT NULL
    ), featarr AS (
      SELECT doc_id,
             list_concat(t, list_transform(range(1, len(t)),
                                           i -> t[i] || ' ' || t[i+1])) AS f
      FROM base
    ), bk AS (
      SELECT doc_id, """ + _MD5_32.format(arg="g || '|tfidf-v1'") + """
               % 64 AS b, COUNT(*) AS tf
      FROM (SELECT doc_id, unnest(f) AS g FROM featarr)
      GROUP BY 1, 2
    ), nn AS (SELECT COUNT(*) AS n FROM featarr),
    dfq AS (SELECT b, COUNT(*) AS df FROM bk GROUP BY 1),
    w AS (
      SELECT doc_id, b, tf * (LN((1.0 + n) / (1.0 + df)) + 1.0) AS wt
      FROM bk JOIN dfq USING (b) CROSS JOIN nn
    ), nrm AS (
      SELECT doc_id, SQRT(SUM(wt * wt)) AS nrm FROM w GROUP BY 1
    ), u AS (
      -- float32 quantization of the stored embedding, then back to double:
      -- exactly the engine's array<float> round-trip
      SELECT doc_id, b, CAST(CAST(wt / nrm AS FLOAT) AS DOUBLE) AS uv
      FROM w JOIN nrm USING (doc_id) WHERE nrm > 0
    ), inv AS (
      SELECT doc_id, 1.0 / SQRT(SUM(uv * uv)) AS iv FROM u GROUP BY 1
    ), pairs AS (
      SELECT a.doc_id AS id_a, b2.doc_id AS id_b, SUM(a.uv * b2.uv) AS dp
      FROM u a JOIN u b2 ON a.b = b2.b AND a.doc_id < b2.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b, ROUND(dp * ia.iv * ib.iv, 6) AS cosine
    FROM pairs
    JOIN inv ia ON ia.doc_id = id_a
    JOIN inv ib ON ib.doc_id = id_b
    WHERE dp * ia.iv * ib.iv >= 0.9
    """,
)
def doc_tfidf_near_dup(spark: SparkSession, sf_dir: str,
                       idf=None) -> DataFrame:
    """Text→similarity bridge: text
    → hashed TF-IDF vectors (extensions/corpus.py hashed_tfidf_vectors —
    md5 unigram+bigram feature hashing, smoothed idf, l2-normalized
    float32 output) → embedding-cosine near-dup pairs
    (extensions/similarity.py cosine_near_dup_pairs) — text near-dup and
    retrieval WITHOUT a precomputed embedding column. Deterministic
    duplicates injected (every 7th doc re-appended, cosine 1.0) so the
    operator has guaranteed work at every scale factor.

    The oracle recomputes the ENTIRE construction in SQL: the md5 bucket
    ids, per-bucket tf, the idf table, the double-precision weights, the
    float32 quantization of the stored vector (CAST ... AS FLOAT), the
    inverse norms of the quantized vectors, and the sparse pairwise dot —
    so both the vectorizer and the near-dup machinery are hash-checked
    end-to-end.

    ``idf``: optional frozen :func:`fit_tfidf_idf` table — the driver row
    self-fits (sf-bench-appropriate: one corpus in hand, one pass), but a
    DEPLOYMENT running this shape daily at 100 TB should fit once on the
    reference corpus and pass the frozen table here, which makes vectorization
    fully map-only and skips the corpus-sized self-fit pin entirely
    (byte-identical vectors — unit-proven in tests/test_corpus_ops.py)."""
    from ..extensions.corpus import hashed_tfidf_vectors
    from ..extensions.similarity import cosine_near_dup_pairs

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    doubled = docs.unionByName(
        docs.filter(F.col("doc_id") % 7 == 0)
        .withColumn("doc_id", F.col("doc_id") + 1000000))
    # Persisted (docs-sized: dim floats per doc): the near-dup machinery
    # references the vector relation THREE times across separate actions
    # (the GEMM build-side collect, then both verify join legs) — uncached,
    # the tokenize+hash+Arrow-vectorize pass runs per reference (measured
    # 1.8× end-to-end at sf0.1). Exchange reuse cannot help across actions,
    # so this is the persist-not-replan case — same caller-release
    # contract as ngram_jaccard_pairs.
    vecs = pin(hashed_tfidf_vectors(doubled, id_col="doc_id", dim=64,
                                    idf=idf))
    return cosine_near_dup_pairs(vecs, threshold=0.9, id_col="doc_id",
                                 vec_col="embedding", dim=64)


@register(
    "doc_substring_dedup",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM documents
    ), wins AS (
      SELECT doc_id, len(t) AS n, i AS start,
             md5(array_to_string(t[i:i+9], ' ')) AS whash
      FROM toks, UNNEST(CASE WHEN len(t) >= 10 THEN range(1, len(t)-8)
                             ELSE [] END) AS u(i)
    ), dups AS (
      SELECT whash FROM wins GROUP BY whash HAVING COUNT(*) > 1
    ), flagged AS (
      SELECT doc_id, n, start FROM wins
      WHERE whash IN (SELECT whash FROM dups)
    ), lagged AS (
      SELECT doc_id, n, start,
             LAG(start) OVER (PARTITION BY doc_id ORDER BY start) AS prev
      FROM flagged
    ), isl AS (
      SELECT doc_id, n, start,
             SUM(CASE WHEN prev IS NULL OR start > prev + 10
                      THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY start
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS island
      FROM lagged
    ), spans AS (
      SELECT doc_id, n, island, MAX(start) + 10 - MIN(start) AS cov
      FROM isl GROUP BY doc_id, n, island
    )
    SELECT doc_id, COUNT(*) AS n_spans,
           CAST(SUM(cov) AS BIGINT) AS dup_tokens,
           ROUND(CAST(SUM(cov) AS DOUBLE) / n, 6) AS dup_frac
    FROM spans GROUP BY doc_id, n
    """,
)
def doc_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplicate spans (Lee et al. 2021 arXiv:2107.06499,
    distributed): every 10-token window occurring >1 time in the corpus is
    flagged and overlapping/adjacent flags merge into maximal per-doc
    duplicated spans — the substring-level complement of the document-level
    near-dup family. Plan: map-only window explode off the persisted token
    projection, ONE fingerprint exchange feeding both the duplicate count
    and the flag-back semi-join, islands over the flagged subset only
    (extensions/dedup.py::duplicate_window_spans)."""
    docs = load_table(spark, sf_dir, "documents")
    return duplicate_window_spans(docs, "doc_id", "text", width=10)


# --- URL zoo: deterministic synthetic URL per doc_id, identical
# construction in both engines — exercises every canonicalization rule
# (scheme case, www., default/explicit ports, tracking params, param
# order, fragments, trailing slashes, co.uk-class domains, schemeless,
# NULL). Shapes 1/2/3 canonicalize to shape 0's URL and 5 to 4's, so the
# URL dedup has planted work at every scale factor. Shared with
# tests/test_weburl.py.
def synthetic_url() -> F.Column:
    d = F.col("doc_id")
    host_n = (d % 37).cast("string")
    base = F.concat(F.lit("example"), host_n, F.lit(".com"))
    path = F.concat(F.lit("/p/"), (d % 97).cast("string"))
    m = d % 10
    return (
        F.when(m == 0, F.concat(F.lit("https://"), base, path))
        .when(m == 1, F.concat(F.lit("HTTPS://WWW."), base, F.lit(":443"),
                               path))                      # == shape 0
        .when(m == 2, F.concat(F.lit("https://"), base, path,
                               F.lit("?utm_source=x&utm_medium=y")))  # == 0
        .when(m == 3, F.concat(F.lit("https://"), base, path,
                               F.lit("/#frag")))           # == shape 0
        .when(m == 4, F.concat(F.lit("https://"), base, path,
                               F.lit("?b=2&a=1")))
        .when(m == 5, F.concat(F.lit("https://"), base, path,
                               F.lit("?a=1&b=2&gclid=zz")))  # == shape 4
        .when(m == 6, F.concat(F.lit("http://sub.shop"), host_n,
                               F.lit(".co.uk:80/x/")))
        .when(m == 7, F.concat(F.lit("ftp://Files."), base, F.lit(":21"),
                               path))
        .when(m == 8, F.concat(base, path))                # schemeless
        .otherwise(F.lit(None).cast("string"))             # NULL
    )


SYNTHETIC_URL_SQL = """
    CASE doc_id % 10
      WHEN 0 THEN 'https://example' || (doc_id % 37) || '.com/p/' || (doc_id % 97)
      WHEN 1 THEN 'HTTPS://WWW.example' || (doc_id % 37) || '.com:443/p/' || (doc_id % 97)
      WHEN 2 THEN 'https://example' || (doc_id % 37) || '.com/p/' || (doc_id % 97) || '?utm_source=x&utm_medium=y'
      WHEN 3 THEN 'https://example' || (doc_id % 37) || '.com/p/' || (doc_id % 97) || '/#frag'
      WHEN 4 THEN 'https://example' || (doc_id % 37) || '.com/p/' || (doc_id % 97) || '?b=2&a=1'
      WHEN 5 THEN 'https://example' || (doc_id % 37) || '.com/p/' || (doc_id % 97) || '?a=1&b=2&gclid=zz'
      WHEN 6 THEN 'http://sub.shop' || (doc_id % 37) || '.co.uk:80/x/'
      WHEN 7 THEN 'ftp://Files.example' || (doc_id % 37) || '.com:21/p/' || (doc_id % 97)
      WHEN 8 THEN 'example' || (doc_id % 37) || '.com/p/' || (doc_id % 97)
      ELSE NULL
    END
"""

# one full-host entry, one messy (case/whitespace/subdomain) entry —
# both sides must normalize them identically
_URL_BLOCKLIST = ("www.example3.com", "shop7.co.uk",
                  " Tracker.Example11.COM ")

#: fixed PSL rule table for the ``psl`` grain — every rule class
#: lands on real zoo hosts at every scale factor: the private-suffix
#: rule hits exampleN.com at N==7 (host IS a suffix → ''), the wildcard
#: makes every shopN.co.uk a public suffix (registered = the sub.
#: host), and the exception carves shop5.co.uk back out (registered =
#: shop5.co.uk itself, overriding the wildcard)
_PSL_RULE_LINES = ("com", "uk", "co.uk", "example7.com", "*.co.uk",
                   "!shop5.co.uk")


def _url_curation_oracle() -> str:
    """DuckDB twin of the three URL-curation stages from the SAME shared
    constants as the Spark expressions (regex/param/TLD tables via the
    weburl ``*_sql`` builders; the zoo via ``SYNTHETIC_URL_SQL``). The
    blocklist stage normalizes its entries through the SAME SQL builders
    as the Spark side (lower+trim+www-strip → registered domain — a
    hand-simplified literal list would silently diverge
    on subdomain/case/whitespace-bearing entries) and guards NULL domains
    explicitly: SQL ``NOT IN`` is NULL-poisoned while Spark's anti join
    keeps unmatched NULLs — the classic three-valued-logic divergence,
    resolved on the oracle side."""
    from ..extensions.sampling import quota_rank_sql
    from ..extensions.weburl import (canonicalize_url_sql, host_sql,
                                     load_suffix_rows,
                                     registered_domain_from_host_sql,
                                     registered_domain_psl_sql)

    vals = ", ".join(f"('{b}')" for b in _URL_BLOCKLIST)
    psl_dom = registered_domain_psl_sql(
        "h", load_suffix_rows(_PSL_RULE_LINES))
    return f"""
    WITH u AS (SELECT doc_id, {SYNTHETIC_URL_SQL} AS url FROM documents),
    c AS (SELECT doc_id, {canonicalize_url_sql('url')} AS canonical_url
          FROM u),
    hh AS (SELECT doc_id, {host_sql('url')} AS h FROM u),
    d AS (SELECT doc_id, {registered_domain_from_host_sql('h')} AS domain
          FROM hh),
    r AS (
      SELECT doc_id, domain,
             {quota_rank_sql('doc_id', 'domain', 'domain-balance-7')} AS rn
      FROM d),
    bl AS (
      SELECT {registered_domain_from_host_sql('bh')} AS domain
      FROM (SELECT regexp_replace(lower(trim(b)), '^www\\.', '') AS bh
            FROM (VALUES {vals}) AS t(b)))
    SELECT 'canon' AS stage, doc_id, canonical_url,
           CAST(NULL AS VARCHAR) AS domain,
           canonical_url IS NULL
           OR doc_id = MIN(doc_id) OVER (PARTITION BY canonical_url) AS kept
    FROM c
    UNION ALL
    SELECT 'quota' AS stage, doc_id, CAST(NULL AS VARCHAR) AS canonical_url,
           domain, rn <= 3 AS kept
    FROM r
    UNION ALL
    SELECT 'blocklist' AS stage, doc_id,
           CAST(NULL AS VARCHAR) AS canonical_url, domain,
           TRUE AS kept
    FROM d
    WHERE domain IS NULL OR domain NOT IN (SELECT domain FROM bl)
    UNION ALL
    SELECT 'psl' AS stage, doc_id,
           CAST(NULL AS VARCHAR) AS canonical_url,
           {psl_dom} AS domain, TRUE AS kept
    FROM hh
    """


@register("doc_url_curation", oracle=_url_curation_oracle())
def doc_url_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL/domain curation ON the driver record (the web-crawl half of
    the training-data pipeline, extensions/weburl.py): four stage-tagged
    grains over the deterministic URL zoo —

    - ``canon``: URL canonicalization (scheme/host case, www, default
      ports, fragments, tracking params, param order, trailing slashes)
      + URL-keyed exact dedup (min-id keeper per canonical URL; the
      shuffle key is the canonical URL's (md5, length) fingerprint);
    - ``quota``: per-registered-domain document caps through the generic
      two-phase ``balanced_sample_by_key`` (map-only prune →
      candidate-sized rank → keeper flag join — the corpus never feeds a
      partitionBy(domain) sort);
    - ``blocklist``: broadcast LEFT ANTI domain blocklist survivors,
      with one full-host blocklist entry proving both sides normalize to
      the registered domain;
    - ``psl``: the FULL publicsuffix.org matcher
      (:func:`with_registered_domain_psl`) under a fixed rule table
      exercising every rule class against real zoo hosts — plain +
      private suffixes, a wildcard (every ``shopN.co.uk`` becomes a
      public suffix), and an exception that carves ``shop5.co.uk`` back
      out; the oracle transcribes the same ascending longest-match
      algorithm (incl. the wildcard label-count guard) over the embedded
      rule lists (``registered_domain_psl_sql``), so the matcher's
      decisions are hash-verified rule-for-rule, not just unit-tested.

    Everything is map-only except the dedup hash agg and the quota
    machinery's two bounded exchanges; the oracle rebuilds every rule
    from the shared constants with zero tolerance."""
    from ..extensions.weburl import (domain_balanced_sample,
                                     filter_blocklisted, load_suffix_rows,
                                     url_dedup_keep_first,
                                     with_registered_domain_psl)

    # engine-pinned (caller-release contract): the three stages each scan
    # the docs relation — uncached, the parquet scan + the synthetic-URL
    # CASE would run once per stage
    docs = pin(load_table(spark, sf_dir, "documents").select(
        "doc_id", synthetic_url().alias("url")))
    nul = F.lit(None).cast("string")
    canon = url_dedup_keep_first(docs).select(
        F.lit("canon").alias("stage"), "doc_id", "canonical_url",
        nul.alias("domain"), "kept")
    quota = domain_balanced_sample(docs, 3, seed=7).select(
        F.lit("quota").alias("stage"), "doc_id",
        nul.alias("canonical_url"), "domain", "kept")
    bl = spark.createDataFrame([(b,) for b in _URL_BLOCKLIST],
                               "domain string")
    survivors = filter_blocklisted(docs, bl, keep_domain_col="domain") \
        .select(F.lit("blocklist").alias("stage"), "doc_id",
                nul.alias("canonical_url"), "domain",
                F.lit(True).alias("kept"))
    sfx = spark.createDataFrame(load_suffix_rows(_PSL_RULE_LINES),
                                "suffix string, kind string")
    psl = with_registered_domain_psl(docs, sfx).select(
        F.lit("psl").alias("stage"), "doc_id",
        nul.alias("canonical_url"), "domain", F.lit(True).alias("kept"))
    return (canon.unionByName(quota).unionByName(survivors)
            .unionByName(psl))

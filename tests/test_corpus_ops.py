"""BM25 ranked retrieval and token-budget sequence packing vs DuckDB
oracles on the real documents table — the same hash-match discipline as the
driver gate, run here because the 50-entry registry budget is full."""

from __future__ import annotations

from pyspark.sql import functions as F

from data_engineering_etl_pipeline_spark.extensions.corpus import (
    bm25_scores, lm_cross_entropy, pack_sequences, stratified_sample)
from data_engineering_etl_pipeline_spark.io import load_table
from .conftest import SF_DIR, assert_matches_oracle

QUERY = ["the", "data", "quality", "model"]

_BM25_SQL = """
WITH base AS (
  SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\\s+'), x -> x <> '') AS t
  FROM documents
),
stats AS (
  SELECT COUNT(*) AS n, AVG(len(t)) AS avgdl FROM base
),
tf AS (
  SELECT doc_id, dl, term, COUNT(*) AS tf
  FROM (SELECT doc_id, len(t) AS dl, unnest(t) AS term FROM base)
  WHERE term IN ('the', 'data', 'quality', 'model')
  GROUP BY 1, 2, 3
),
dfreq AS (
  SELECT term, COUNT(*) AS df FROM tf GROUP BY 1
)
SELECT doc_id,
       ROUND(SUM(LN(1 + (n - df + 0.5) / (df + 0.5))
                 * tf * 2.2 / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))),
             6) AS bm25
FROM tf JOIN dfreq USING (term) CROSS JOIN stats
GROUP BY doc_id
"""

_PACK_SQL = """
WITH toks AS (
  SELECT doc_id,
         len(regexp_extract_all(text, '[A-Za-z0-9_]+|[^A-Za-z0-9_\\s]'))
           AS n_tokens
  FROM documents
),
sharded AS (
  -- oracle takes the engine's shard assignment as input (xxhash64 has no
  -- DuckDB twin); the packing ARITHMETIC is what this oracle pins
  SELECT t.doc_id, t.n_tokens, s.shard
  FROM toks t JOIN shards s USING (doc_id)
)
SELECT doc_id, n_tokens, shard,
       shard * 4294967296
       + (COALESCE(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
          // 512) AS pack_id
FROM sharded
"""


def test_bm25_matches_duckdb(spark, duck):
    docs = load_table(spark, SF_DIR, "documents")
    got = bm25_scores(docs, QUERY)
    assert_matches_oracle(got, duck, _BM25_SQL, "bm25")


def test_bm25_scores_are_positive_and_bounded_by_match(spark):
    docs = load_table(spark, SF_DIR, "documents")
    scored = bm25_scores(docs, QUERY)
    rows = scored.collect()
    assert rows, "query terms should match some documents"
    assert all(r.bm25 > 0 for r in rows)
    # docs with no query term never appear
    matching = (docs.select("doc_id",
                            F.explode(F.split(F.lower(F.trim("text")),
                                              r"\s+")).alias("t"))
                .filter(F.col("t").isin(QUERY))
                .select("doc_id").distinct().count())
    assert len(rows) == matching


def test_pack_sequences_matches_duckdb(spark, duck):
    docs = load_table(spark, SF_DIR, "documents")
    got = pack_sequences(docs, budget=512, n_shards=8)
    # hand DuckDB the engine's shard map; it checks the packing arithmetic
    shards = got.select("doc_id", "shard").toPandas()
    duck.register("shards", shards)
    try:
        assert_matches_oracle(got, duck, _PACK_SQL, "pack")
    finally:
        duck.unregister("shards")


_SAMPLE_SQL = """
SELECT * FROM documents
WHERE list_sum(list_transform(range(0, 8), i ->
        CAST(strpos('0123456789abcdef',
                    substr(md5(CAST(doc_id AS VARCHAR) || '|mix-v1'),
                           CAST(i + 1 AS INT), 1)) - 1
             AS BIGINT) << CAST((7 - i) * 4 AS INT)))
      < CASE lang WHEN 'en' THEN 0.5 WHEN 'de' THEN 1.0 ELSE 0.0 END
        * 4294967296
"""


def test_stratified_sample_matches_duckdb(spark, duck):
    docs = load_table(spark, SF_DIR, "documents")
    got = stratified_sample(docs, "lang", {"en": 0.5, "de": 1.0}, "doc_id",
                            salt="mix-v1")
    assert_matches_oracle(got, duck, _SAMPLE_SQL, "stratified_sample")


def test_stratified_sample_is_deterministic_and_proportional(spark):
    docs = load_table(spark, SF_DIR, "documents")
    args = (docs, "lang", {"en": 0.5, "de": 1.0}, "doc_id")
    a = stratified_sample(*args).count()
    b = stratified_sample(*args).count()
    assert a == b
    per = {r.lang: r.cnt for r in
           stratified_sample(*args).groupBy("lang")
           .agg(F.count(F.lit(1)).alias("cnt")).collect()}
    full = {r.lang: r.cnt for r in
            docs.groupBy("lang").agg(F.count(F.lit(1)).alias("cnt")).collect()}
    assert set(per) <= {"en", "de"}            # unlisted strata dropped
    assert per["de"] == full["de"]             # fraction 1.0 keeps all
    assert 0.3 < per["en"] / full["en"] < 0.7  # ~half of en survives


_LM_SQL = """
WITH big AS (
  SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
  FROM (SELECT doc_id,
               list_filter(string_split_regex(lower(trim(text)), '\\s+'), x -> x <> '') AS t
        FROM documents),
       LATERAL (SELECT unnest(range(1, len(t))) AS i)
),
c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM big GROUP BY 1, 2),
c1 AS (SELECT w1, SUM(c2) AS c1 FROM c2 GROUP BY 1),
v AS (SELECT COUNT(DISTINCT w2) AS v FROM c2),
scored AS (
  SELECT doc_id, COUNT(*) AS n_bigrams,
         ROUND(-AVG(LN((c2 + 0.1) / (c1 + 0.1 * v))), 6) AS xent
  FROM big JOIN c2 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v
  GROUP BY doc_id
)
SELECT d.doc_id,
       COALESCE(s.n_bigrams, 0) AS n_bigrams,
       s.xent
FROM documents d LEFT JOIN scored s USING (doc_id)
"""


def test_lm_cross_entropy_matches_duckdb(spark, duck):
    docs = load_table(spark, SF_DIR, "documents")
    got = lm_cross_entropy(docs, "doc_id", "text", k=0.1)
    assert_matches_oracle(got, duck, _LM_SQL, "lm_cross_entropy")


def test_lm_cross_entropy_ranks_atypical_text_higher(spark):
    """A doc of corpus-frequent bigrams must score lower (more typical)
    than a doc of bigrams seen nowhere else."""
    rows = ([(i, "the cat sat on the mat") for i in range(10)]
            + [(100, "zqx wvu klm pqr stv xyz")])
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r.xent for r in
           lm_cross_entropy(docs, "doc_id", "text").collect()}
    assert got[100] > got[0]


def test_pack_totals_bounded(spark):
    """Every pack's token total < budget + max doc tokens (the documented
    offset-packing bound), and packs never mix shards."""
    budget = 512
    docs = load_table(spark, SF_DIR, "documents")
    packed = pack_sequences(docs, budget=budget, n_shards=8)
    max_doc = packed.agg(F.max("n_tokens")).first()[0]
    per_pack = (packed.groupBy("pack_id")
                .agg(F.sum("n_tokens").alias("total"),
                     F.countDistinct("shard").alias("n_shards")))
    bad = per_pack.filter((F.col("total") >= budget + max_doc)
                          | (F.col("n_shards") != 1)).count()
    assert bad == 0


def _plan(df) -> str:
    import contextlib
    import io as _io
    buf = _io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_corpus_ops_plans_stay_jvm_side(spark):
    """BM25 / packing / sampling / LM are pure Catalyst plans — no Python
    evaluation nodes anywhere (the ops must stream through codegen at
    100 TB), and the sampler adds no shuffle at all (map-only filter).
    The small-scan input-parallelism floor is disabled for the scan here: it
    adds a deliberate small-input-only exchange that is structurally
    absent at scale (pinned separately in
    test_plans.py::test_small_scan_parallelism_floor) — this pin is
    about the OPERATORS' own shape."""
    spark.conf.set("spark.sql.graft.scanParallelismFloorBytes", "0")
    try:
        docs = load_table(spark, SF_DIR, "documents")
        for df in (bm25_scores(docs, QUERY),
                   pack_sequences(docs, budget=512, n_shards=8),
                   lm_cross_entropy(docs),
                   stratified_sample(docs, "lang", {"en": 0.5}, "doc_id")):
            p = _plan(df)
            assert "Python" not in p and "ArrowEval" not in p, p
        sample_plan = _plan(
            stratified_sample(docs, "lang", {"en": 0.5}, "doc_id"))
        assert "Exchange" not in sample_plan, sample_plan
    finally:
        spark.conf.unset("spark.sql.graft.scanParallelismFloorBytes")


_CONTAM_SQL = """
WITH bench AS (SELECT text FROM documents WHERE doc_id IN (3, 17, 42)),
bsh AS (
  SELECT DISTINCT array_to_string(t[i:i+12], ' ') AS s
  FROM (SELECT string_split_regex(trim(text), '\\s+') AS t FROM bench),
       LATERAL (SELECT unnest(range(1, len(t) - 11)) AS i)
),
dsh AS (
  SELECT doc_id, array_to_string(t[i:i+12], ' ') AS s
  FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
        FROM documents),
       LATERAL (SELECT unnest(range(1, len(t) - 11)) AS i)
),
hits AS (SELECT DISTINCT doc_id FROM dsh JOIN bsh USING (s))
SELECT d.doc_id, (h.doc_id IS NOT NULL) AS contaminated
FROM documents d LEFT JOIN hits h USING (doc_id)
"""


def test_flag_contaminated_matches_duckdb(spark, duck):
    """13-gram decontamination vs a benchmark built from three corpus docs:
    the flag must hash-match the SQL twin, and every benchmark-source doc
    must be flagged."""
    from data_engineering_etl_pipeline_spark.extensions.corpus import (
        flag_contaminated)

    docs = load_table(spark, SF_DIR, "documents")
    bench = docs.filter(F.col("doc_id").isin([3, 17, 42])).select("text")
    got = flag_contaminated(docs, bench, n=13)
    assert_matches_oracle(got, duck, _CONTAM_SQL, "flag_contaminated")
    flagged = {r.doc_id for r in
               got.filter("contaminated").select("doc_id").collect()}
    assert {3, 17, 42} <= flagged


_CHUNK_SQL = """
WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS tk
           FROM documents),
s AS (
  SELECT doc_id, tk,
         (CASE WHEN len(tk) > 64 THEN len(tk) - 64 ELSE 0 END + 47) // 48
           AS kmax
  FROM t
)
SELECT doc_id, CAST(u.k AS INT) AS chunk_idx,
       CAST(least(64, len(tk) - (u.k * 48 + 1) + 1) AS INT) AS n_tokens,
       array_to_string(tk[u.k * 48 + 1 : u.k * 48 + 64], ' ') AS chunk_text
FROM s, LATERAL (SELECT unnest(range(0, kmax + 1)) AS k) u
"""


def test_chunk_documents_matches_duckdb(spark, duck):
    from data_engineering_etl_pipeline_spark.extensions.corpus import (
        chunk_documents)

    docs = load_table(spark, SF_DIR, "documents")
    got = chunk_documents(docs, window=64, stride=48)
    assert_matches_oracle(got, duck, _CHUNK_SQL, "chunk_documents")


def test_chunk_documents_covers_every_token_with_overlap(spark):
    """Coverage + overlap invariants: chunk token counts sum to
    n_tok + (chunks−1)·overlap per doc; no chunk exceeds the window; only
    the last chunk may be shorter than the window."""
    from data_engineering_etl_pipeline_spark.extensions.corpus import (
        chunk_documents)

    docs = load_table(spark, SF_DIR, "documents")
    w, s = 64, 48
    chunks = chunk_documents(docs, window=w, stride=s)
    n_tok = docs.select(
        "doc_id", F.size(F.split(F.trim("text"), r"\s+")).alias("nt"))
    per_doc = (chunks.groupBy("doc_id")
               .agg(F.count(F.lit(1)).alias("n_chunks"),
                    F.sum("n_tokens").alias("tok_sum"),
                    F.max("n_tokens").alias("max_chunk"))
               .join(n_tok, "doc_id"))
    bad = per_doc.filter(
        (F.col("max_chunk") > w)
        | (F.col("tok_sum") != F.col("nt")
           + (F.col("n_chunks") - 1) * (w - s))).count()
    assert bad == 0
    short_not_last = (chunks.withColumn(
        "last_idx", F.max("chunk_idx").over(
            __import__("pyspark.sql.window", fromlist=["Window"])
            .Window.partitionBy("doc_id")))
        .filter((F.col("n_tokens") < w)
                & (F.col("chunk_idx") != F.col("last_idx"))).count())
    assert short_not_last == 0


_TOP_BIGRAM_SQL = """
WITH g AS (
  SELECT doc_id, array_to_string(t[i:i+1], ' ') AS gram
  FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
        FROM documents),
       LATERAL (SELECT unnest(range(1, len(t))) AS i)
), m AS (
  SELECT doc_id, MAX(c) AS best, SUM(c) AS total
  FROM (SELECT doc_id, gram, COUNT(*) AS c FROM g GROUP BY 1, 2)
  GROUP BY 1
)
SELECT d.doc_id, ROUND(COALESCE(m.best * 1.0 / m.total, 0.0), 6) AS frac
FROM documents d LEFT JOIN m USING (doc_id)
"""


def test_top_ngram_fraction_matches_duckdb_mode(spark, duck):
    """The array-fold mode count (longest equal-neighbor run of the sorted
    n-gram array) must equal a groupBy-computed mode in SQL on the real
    corpus."""
    from data_engineering_etl_pipeline_spark.extensions.text_stats import (
        top_ngram_fraction)

    docs = load_table(spark, SF_DIR, "documents")
    got = docs.select(
        "doc_id", F.round(top_ngram_fraction("text", 2), 6).alias("frac"))
    assert_matches_oracle(got, duck, _TOP_BIGRAM_SQL, "top_ngram_fraction")


def test_repetition_metrics_hand_cases(spark):
    from data_engineering_etl_pipeline_spark.extensions.text_stats import (
        duplicate_line_fraction, top_ngram_fraction)

    rows = [(0, "a\nb\na\na"),        # 4 lines, 2 distinct -> 0.5
            (1, "x y x y x y"),       # bigram 'x y' 3 of 5 -> 0.6
            (2, "solo"),              # no bigrams -> 0.0; one line -> 0.0
            (3, "unique lines\nonly here")]
    df = spark.createDataFrame(rows, "id long, text string")
    got = {r.id: (r.dl, r.tg) for r in df.select(
        "id",
        F.round(duplicate_line_fraction("text"), 6).alias("dl"),
        F.round(top_ngram_fraction("text", 2), 6).alias("tg")).collect()}
    assert got[0][0] == 0.5
    assert got[1][1] == 0.6
    assert got[2] == (0.0, 0.0)
    assert got[3][0] == 0.0


def test_corpus_prep_plans_stay_jvm_side(spark):
    """Decontamination, chunking, and repetition metrics are pure Catalyst
    plans (no Python nodes); the corpus side of decontamination must join
    the benchmark shingles as a BROADCAST (the corpus never shuffles)."""
    from data_engineering_etl_pipeline_spark.extensions.corpus import (
        chunk_documents, flag_contaminated)
    from data_engineering_etl_pipeline_spark.extensions.text_stats import (
        duplicate_line_fraction, top_ngram_fraction)

    docs = load_table(spark, SF_DIR, "documents")
    bench = docs.filter(F.col("doc_id") < 3).select("text")
    flag = flag_contaminated(docs, bench, n=13)
    for df in (flag, chunk_documents(docs, 64, 48),
               docs.select(duplicate_line_fraction("text"),
                           top_ngram_fraction("text", 2))):
        p = _plan(df)
        assert "Python" not in p and "ArrowEval" not in p, p
    p = _plan(flag)
    assert "BroadcastHashJoin" in p and "LeftSemi" in p, p
    # both the semi-join AND the flag join must broadcast — a sort-merge
    # join anywhere would shuffle the corpus side
    assert "SortMergeJoin" not in p and "ShuffledHashJoin" not in p, p


_SPLIT_PER_DOC_SQL = """
WITH h AS (
  SELECT doc_id, lang,
         list_sum(list_transform(range(0, 8), i ->
           CAST(strpos('0123456789abcdef',
                       substr(md5(text || '|split-v1'), CAST(i + 1 AS INT), 1)) - 1
                AS BIGINT) << CAST((7 - i) * 4 AS INT))) AS hv
  FROM documents
)
SELECT doc_id, lang,
       CASE WHEN hv % 100 < 90 THEN 'train' ELSE 'val' END AS split
FROM h
"""


def test_train_val_split_per_doc_oracle(spark, duck):
    """Per-doc twin of `corpus_split_profile` (which checks only (split,
    lang) groups; this keeps the doc-level hash assignment
    oracle-verified)."""
    docs = load_table(spark, SF_DIR, "documents")
    hv = F.conv(F.substring(F.md5(F.concat(F.col("text"), F.lit("|split-v1"))),
                            1, 8), 16, 10).cast("long")
    got = docs.select(
        "doc_id", "lang",
        F.when(hv % 100 < 90, F.lit("train")).otherwise(F.lit("val"))
         .alias("split"))
    assert_matches_oracle(got, duck, _SPLIT_PER_DOC_SQL, "train_val_split")


def test_top_ngram_fraction_udf_matches_expression(spark):
    """The Arrow mode-count kernel must equal the interpreted aggregate-fold
    twin on real docs and edge cases (empty doc, sub-width doc, all-equal
    grams, whitespace padding)."""
    from data_engineering_etl_pipeline_spark.extensions.text_stats import (
        top_ngram_fraction, top_ngram_fraction_udf)
    from data_engineering_etl_pipeline_spark.io import load_table

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    edge = spark.createDataFrame(
        [(100001, ""), (100002, "one"), (100003, "a b a b a b"),
         (100004, "  padded   tokens  here  "), (100005, "x x x x x"),
         # Java-vs-Python whitespace semantics: a
         # trailing newline/tab yields a KEPT empty token in Spark's
         # split(trim(.)), and NBSP must NOT split (Java \s is ASCII)
         (100006, "a b\n"), (100007, "a b\t"), (100008, "\ta b"),
         (100009, "a\u00a0b c a\u00a0b"), (100010, "x y \n ")],
        "doc_id long, text string")
    both = docs.unionByName(edge).select(
        "doc_id",
        F.round(top_ngram_fraction("text", 2), 6).alias("fold"),
        F.round(top_ngram_fraction_udf("text", 2), 6).alias("arrow"))
    bad = both.filter(F.col("fold") != F.col("arrow")).collect()
    assert not bad, bad[:5]


_HV = """list_sum(list_transform(range(0, 8), i ->
      CAST(strpos('0123456789abcdef',
                  substr(md5({e}), CAST(i + 1 AS INT), 1)) - 1
           AS BIGINT) << CAST((7 - i) * 4 AS INT)))"""


def _dsir_sql(k: int) -> str:
    """DuckDB twin of dsir_topk: raw = documents, target = the English
    documents, buckets=512, smoothing=1.0."""
    hv_g = _HV.format(e="g || '|dsir-v1'")
    hv_id = _HV.format(e="CAST(doc_id AS VARCHAR) || '|dsir-v1'")
    base = """
WITH base AS (
  SELECT doc_id, lang,
         list_filter(string_split_regex(lower(trim(text)), '\\s+'), x -> x <> '') AS t
  FROM documents
), featarr AS (
  SELECT doc_id, lang,
         list_concat(t, list_transform(range(1, len(t)),
                                       i -> t[i] || ' ' || t[i+1])) AS f
  FROM base
), rawf AS (
  SELECT doc_id, {hv_g} % 512 AS b
  FROM (SELECT doc_id, unnest(f) AS g FROM featarr)
), tgtf AS (
  SELECT {hv_g} % 512 AS b
  FROM (SELECT unnest(f) AS g FROM featarr WHERE lang = 'en')
), rc AS (SELECT b, COUNT(*) AS cr FROM rawf GROUP BY 1),
tc AS (SELECT b, COUNT(*) AS ct FROM tgtf GROUP BY 1),
rn AS (SELECT SUM(cr) AS nr FROM rc),
tn AS (SELECT SUM(ct) AS nt FROM tc),
ratio AS (
  SELECT rc.b,
         LN((COALESCE(tc.ct, 0) + 1.0) / (tn.nt + 512.0))
         - LN((rc.cr + 1.0) / (rn.nr + 512.0)) AS lr
  FROM rc LEFT JOIN tc USING (b) CROSS JOIN rn CROSS JOIN tn
), scored AS (
  SELECT doc_id, COUNT(*) AS n_feats, ROUND(SUM(lr), 6) AS logw
  FROM rawf JOIN ratio USING (b) GROUP BY 1
), lw AS (
  SELECT d.doc_id, COALESCE(s.n_feats, 0) AS n_feats, s.logw
  FROM documents d LEFT JOIN scored s USING (doc_id)
)
""".format(hv_g=hv_g)
    return base + f"""
SELECT doc_id, logw,
       ROUND(logw + -(LN(-LN(({hv_id} + 1) / 4294967297.0))), 6)
         AS dsir_score
FROM lw WHERE logw IS NOT NULL
ORDER BY dsir_score DESC, doc_id LIMIT {k}
"""


def test_dsir_upweights_target_like_docs(spark):
    """With the English documents as target, English raw docs must score
    higher on average than every other language (the whole point of
    importance resampling)."""
    from data_engineering_etl_pipeline_spark.extensions.corpus import (
        _dsir_scored)
    docs = load_table(spark, SF_DIR, "documents")
    lw = _dsir_scored(docs, docs.filter(F.col("lang") == "en"), "doc_id",
                      "text", "text", buckets=512, smoothing=1.0,
                      salt="dsir-v1")
    means = {r["lang"]: r["m"] for r in
             lw.join(docs.select("doc_id", "lang"), "doc_id")
             .groupBy("lang").agg(F.avg("logw").alias("m")).collect()}
    assert all(means["en"] > v for l, v in means.items() if l != "en"), means


def test_dsir_topk_matches_duckdb_and_is_deterministic(spark, duck):
    from data_engineering_etl_pipeline_spark.extensions.corpus import (
        dsir_topk)
    docs = load_table(spark, SF_DIR, "documents")
    args = dict(k=25, buckets=512)
    got = dsir_topk(docs, docs.filter(F.col("lang") == "en"), **args)
    assert_matches_oracle(got, duck, _dsir_sql(k=25), "dsir_topk")
    a = [r.doc_id for r in got.collect()]
    b = [r.doc_id for r in
         dsir_topk(docs.repartition(7),
                   docs.filter(F.col("lang") == "en"), **args).collect()]
    assert a == b


def _ref_tfidf(texts: dict[int, str], dim: int, salt: str = "tfidf-v1"):
    """Pure-python reference of hashed_tfidf_vectors (same md5 buckets,
    same smoothed idf, same l2 normalization)."""
    import hashlib
    import re

    import numpy as np

    def buckets(text):
        # mirrors corpus._words: whitespace split with boundary empties
        # removed (an empty/whitespace-only text yields NO features
        # and therefore a zero vector)
        toks = [x for x in re.split(r"\s+", text.strip().lower())
                if x != ""]
        grams = toks + [f"{a} {b}" for a, b in zip(toks, toks[1:])]
        return [int(hashlib.md5(f"{g}|{salt}".encode()).hexdigest()[:8], 16)
                % dim for g in grams]

    n = len(texts)
    df = {}
    per_doc = {i: buckets(t) for i, t in texts.items()}
    for bs in per_doc.values():
        for k in set(bs):
            df[k] = df.get(k, 0) + 1
    idf = np.ones(dim)
    for k, d in df.items():
        idf[k] = np.log((1.0 + n) / (1.0 + d)) + 1.0
    out = {}
    for i, bs in per_doc.items():
        tf = np.bincount(np.asarray(bs, dtype=np.int64),
                         minlength=dim).astype(float)
        v = tf * idf
        nrm = np.linalg.norm(v)
        out[i] = (v / nrm if nrm > 0 else v).astype(np.float32)
    return out


def test_hashed_tfidf_matches_reference(spark):
    import numpy as np

    from data_engineering_etl_pipeline_spark.extensions.corpus import (
        hashed_tfidf_vectors)
    texts = {0: "the quick brown fox", 1: "the quick brown dog",
             2: "completely different words entirely", 3: "the the the",
             4: ""}
    df = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    got = {r.doc_id: np.asarray(r.embedding, dtype=np.float32)
           for r in hashed_tfidf_vectors(df, dim=64).collect()}
    want = _ref_tfidf(texts, dim=64)
    assert set(got) == set(want)
    for i in got:
        assert got[i].shape == (64,)
        np.testing.assert_allclose(got[i], want[i], rtol=1e-6, atol=1e-7), i


def test_hashed_tfidf_feeds_cosine_near_dup(spark):
    """The vectorizer's output is drop-in for the embedding near-dup
    machinery: planted near-identical texts pair up, unrelated ones
    don't."""
    from data_engineering_etl_pipeline_spark.extensions.corpus import (
        hashed_tfidf_vectors)
    from data_engineering_etl_pipeline_spark.extensions.similarity import (
        cosine_near_dup_pairs)
    rows = []
    for i in range(20):
        ws = [f"w{i}x{j}" for j in range(30)]
        rows.append((i, " ".join(ws)))
        if i < 3:  # plant a near-dup: one word changed
            rows.append((100 + i, " ".join(ws[:-1] + ["changed"])))
    df = spark.createDataFrame(rows, "vec_id long, text string")
    vecs = hashed_tfidf_vectors(df, id_col="vec_id", dim=128)
    pairs = cosine_near_dup_pairs(vecs, threshold=0.9, dim=128)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert got == {(0, 100), (1, 101), (2, 102)}


def test_perplexity_buckets_match_duckdb(spark, duck):
    from data_engineering_etl_pipeline_spark.extensions.corpus import (
        perplexity_buckets)
    docs = load_table(spark, SF_DIR, "documents")
    got = perplexity_buckets(docs)
    sql = f"""
WITH lw AS ({_LM_SQL}),
cuts AS (SELECT quantile_cont(xent, [1.0/3.0, 2.0/3.0]) AS c FROM lw)
SELECT doc_id, n_bigrams, xent,
       CASE WHEN xent IS NULL THEN NULL
            WHEN xent <= c[1] THEN 'head'
            WHEN xent <= c[2] THEN 'middle'
            ELSE 'tail' END AS ppl_bucket
FROM lw CROSS JOIN cuts
"""
    assert_matches_oracle(got, duck, sql, "perplexity_buckets")


def test_perplexity_bucket_proportions_and_sampling(spark):
    from data_engineering_etl_pipeline_spark.extensions.corpus import (
        perplexity_buckets)
    docs = load_table(spark, SF_DIR, "documents")
    b = perplexity_buckets(docs)
    counts = {r.ppl_bucket: r.cnt for r in
              b.filter(F.col("ppl_bucket").isNotNull())
              .groupBy("ppl_bucket").agg(F.count(F.lit(1)).alias("cnt"))
              .collect()}
    n = sum(counts.values())
    # terciles: each bucket holds ~1/3 (ties can shift boundaries a bit)
    for name in ("head", "middle", "tail"):
        assert 0.2 < counts[name] / n < 0.47, counts
    # CCNet downsampling composes with the deterministic sampler
    kept = stratified_sample(
        b.filter(F.col("ppl_bucket").isNotNull()), "ppl_bucket",
        {"head": 1.0, "middle": 0.5, "tail": 0.1}, "doc_id")
    per = {r.ppl_bucket: r.cnt for r in
           kept.groupBy("ppl_bucket").agg(F.count(F.lit(1)).alias("cnt"))
           .collect()}
    assert per["head"] == counts["head"]
    assert per["middle"] < counts["middle"]
    assert per["tail"] < counts["tail"] * 0.3


def test_hashed_tfidf_null_text_yields_zero_vector(spark):
    import numpy as np

    from data_engineering_etl_pipeline_spark.extensions.corpus import (
        hashed_tfidf_vectors)
    df = spark.createDataFrame([(0, "the quick fox"), (1, None)],
                               "doc_id long, text string")
    got = {r.doc_id: np.asarray(r.embedding)
           for r in hashed_tfidf_vectors(df, dim=32).collect()}
    assert np.all(got[1] == 0.0) and got[1].shape == (32,)
    assert np.linalg.norm(got[0]) > 0


def test_hashed_tfidf_self_fit_tokenizes_once(spark):
    """The self-fit path pins
    the bucket relation, so the eager idf aggregate materializes it and
    the returned vectorizer plan reads the CACHE instead of re-running
    tokenize+md5 over the corpus — regression pin: the plan must read an
    InMemoryTableScan, and exactly one engine pin must have been taken
    (released here, the caller-release contract). The precomputed-idf
    apply path stays pin-free (fully map-only)."""
    import contextlib
    import io

    import numpy as np

    from data_engineering_etl_pipeline_spark.caching import (
        release_engine_pins)
    from data_engineering_etl_pipeline_spark.extensions.corpus import (
        hashed_tfidf_vectors)
    from data_engineering_etl_pipeline_spark.io import load_table

    from .conftest import SF_DIR

    release_engine_pins()  # isolate the count below
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    vecs = hashed_tfidf_vectors(docs, id_col="doc_id", dim=32)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        vecs.explain("formatted")
    assert "InMemoryTableScan" in buf.getvalue()
    assert release_engine_pins() == 1

    # frozen-idf apply: map-only, no pin taken
    applied = hashed_tfidf_vectors(docs, id_col="doc_id", dim=32,
                                   idf=np.ones(32))
    assert applied.count() > 0
    assert release_engine_pins() == 0


def test_fit_once_apply_daily_equals_self_fit_bytewise(spark):
    """The 100 TB path — fit_tfidf_idf once on the
    reference corpus, then apply the frozen table — produces vectors
    BYTE-IDENTICAL to the one-shot self-fit over the same corpus (so
    switching a deployment from the self-fit pin to the frozen-idf path
    changes nothing downstream), and the same frozen table vectorizes a
    later batch without any fit pass or corpus pin."""
    import numpy as np

    from data_engineering_etl_pipeline_spark.caching import (
        release_engine_pins)
    from data_engineering_etl_pipeline_spark.extensions.corpus import (
        fit_tfidf_idf, hashed_tfidf_vectors)
    from data_engineering_etl_pipeline_spark.io import load_table

    from .conftest import SF_DIR

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    self_fit = {r["doc_id"]: r["embedding"] for r in
                hashed_tfidf_vectors(docs, dim=64).collect()}
    release_engine_pins()

    idf = fit_tfidf_idf(docs, dim=64)
    frozen = {r["doc_id"]: r["embedding"] for r in
              hashed_tfidf_vectors(docs, dim=64, idf=idf).collect()}
    assert release_engine_pins() == 0  # frozen path took NO corpus pin
    assert self_fit.keys() == frozen.keys()
    for k in self_fit:
        a = np.asarray(self_fit[k], dtype=np.float32)
        b = np.asarray(frozen[k], dtype=np.float32)
        assert a.tobytes() == b.tobytes(), k

    # day-2 batch under the frozen day-1 idf: identical text -> identical
    # vector (the cross-batch signature-match requirement)
    day2 = docs.limit(20).withColumn("doc_id", F.col("doc_id") + 10_000_000)
    got2 = {r["doc_id"] - 10_000_000: r["embedding"] for r in
            hashed_tfidf_vectors(day2, dim=64, idf=idf).collect()}
    for k, v in got2.items():
        assert (np.asarray(v, dtype=np.float32).tobytes()
                == np.asarray(frozen[k], dtype=np.float32).tobytes()), k


def test_epoch_plan_matches_duckdb_and_is_a_permutation(spark, duck):
    """epoch_plan (the between-epoch reshuffle after pack_sequences):
    (a) hash-matches the DuckDB twin bit-for-bit on real packed data;
    (b) each (epoch, shard) ranks its packs as a permutation 1..n;
    (c) epochs genuinely differ in order (the point of the reshuffle);
    (d) n_epochs must be positive."""
    import pytest as _pytest

    from data_engineering_etl_pipeline_spark.extensions.corpus import (
        epoch_plan, epoch_plan_sql, pack_sequences)

    docs = load_table(spark, SF_DIR, "documents")
    packed = pack_sequences(docs, budget=256, n_shards=4,
                            portable_shard=True)
    got = epoch_plan(packed, n_epochs=3, salt="ep-test")
    pdf = packed.select("pack_id", "shard").toPandas()
    duck.register("packs_tmp", pdf)
    sql = epoch_plan_sql(3, salt="ep-test", table="packs_tmp")
    assert_matches_oracle(got, duck, sql, "epoch_plan")
    duck.unregister("packs_tmp")
    rows = got.collect()
    by_es: dict = {}
    order_of: dict = {}
    for r in rows:
        by_es.setdefault((r["epoch"], r["shard"]), []).append(
            r["epoch_order"])
        order_of.setdefault(r["epoch"], {})[r["pack_id"]] = r["epoch_order"]
    for (e, s), orders in by_es.items():
        assert sorted(orders) == list(range(1, len(orders) + 1)), (e, s)
    assert order_of[0] != order_of[1]  # epochs reshuffle
    with _pytest.raises(ValueError, match="n_epochs"):
        epoch_plan(packed, n_epochs=0)
    # NULL pack ids are excluded in BOTH engines (the
    # concat_ws hash would otherwise collapse distinct NULL packs onto
    # one rank while the SQL twin's || chain NULLs out)
    withnull = spark.createDataFrame(
        [(None, 0), (5, 0), (None, 1), (6, 1)],
        "pack_id long, shard long")
    got_n = epoch_plan(withnull, n_epochs=2, salt="ep-null")
    rows_n = got_n.collect()
    assert {r["pack_id"] for r in rows_n} == {5, 6}
    assert all(r["epoch_order"] == 1 for r in rows_n)
    duck.register("packs_null", withnull.toPandas())
    assert_matches_oracle(
        got_n, duck, epoch_plan_sql(2, salt="ep-null", table="packs_null"),
        "epoch_plan_nulls")
    duck.unregister("packs_null")

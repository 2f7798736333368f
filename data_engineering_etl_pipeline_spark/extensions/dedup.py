"""Deduplication operators (SURVEY.md §2.11): exact, n-gram Jaccard,
MinHash+LSH banding, SimHash — the standard public near-dup toolkit
(Broder 1997 minhash/shingling; Charikar 2002 simhash; Leskovec-Rajaraman-
Ullman MMDS ch.3 banding), each expressed as distributed DataFrame plans.

Scale design:
- exact dedup: one pass, whose one corpus-wide exchange keys on a cheap
  fingerprint, never on raw text (text rides as payload);
- near-dup: candidate generation via LSH buckets (equi-join on band hash —
  a plain shuffle join, no cross product), then exact Jaccard verification
  on the candidate pairs only;
- all hashes are Spark's built-in xxhash64/hash (JVM, codegen) — no Python.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..caching import pin

# Mersenne prime 2^31-1 for minhash permutations ((a*h+b) mod p): with
# h, a, b < 2^31 the product stays below 2^62 — no long overflow under
# Spark's ANSI arithmetic.
_MINHASH_P = 2147483647  # 2^31 - 1


def _default_fingerprint(text_col: str) -> list:
    """8-byte xxhash64 + length: the scale-safe exact-dedup shuffle key.
    Length rides along for free (it is already computed during the scan)
    and cheaply splits same-hash groups before any text comparison.

    TOTAL by construction: ``xxhash64(NULL)`` is the non-null seed
    hash, and NULL text's length maps to the sentinel ``-1`` (no real text
    has it), so the fingerprint columns are never NULL. That keeps SQL
    group semantics for the NULL-text group AND lets the incremental index
    join use plain equality — null-safe ``<=>`` keys rewrite to
    ``coalesce/isnull`` expressions that the planner cannot match against
    a bucketed table's layout, silently disabling the exchange-free join
    (measured: "Bucketed: false (disabled by query planner)")."""
    return [F.xxhash64(F.col(text_col)).alias("__fp"),
            F.coalesce(F.length(F.col(text_col)), F.lit(-1)).alias("__fplen")]


def _fingerprint_exchange(docs: DataFrame, cols: list, text_col: str,
                          fingerprint) -> tuple[DataFrame, list]:
    """``docs`` projected to ``cols`` plus the fingerprint columns and
    hash-partitioned on the fingerprint alone — the one corpus-wide
    exchange of both exact-dedup operators, so text is payload, never an
    exchange key. Returns ``(frame, fp_names)``. Plain ``repartition(*keys)``
    lets AQE coalesce the partitions, and the hash on the fingerprint
    clusters every ``(fingerprint, text)`` group, so the grouping after it
    adds no second shuffle."""
    fp = fingerprint if fingerprint is not None else _default_fingerprint(text_col)
    proj = docs.select(*cols, *fp)
    kept, fp_names = proj.columns[:-len(fp)], proj.columns[-len(fp):]
    clash = set(fp_names) & set(kept)  # resolved aliases, no execution
    if clash:
        raise ValueError(
            f"exact dedup: fingerprint aliases {sorted(clash)} collide "
            "with input columns — alias them uniquely")
    return proj.repartition(*fp_names), fp_names


def exact_dedup_groups(docs: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text",
                       fingerprint=None) -> DataFrame:
    """Exact-duplicate groups: keeper = min id per identical text; returns
    one row per duplicated text: keeper id + the number of copies.

    One pass over ``docs``: a single exchange keyed on the
    ``(xxhash64(text), length)`` fingerprint (the most-used operator of a
    training-data pipeline must never hash-shuffle raw documents as keys),
    then a group-by on ``(fingerprint, text)`` that the exchange already
    clusters. Text takes part in the group key only to split the rare
    fingerprint collision (two different texts sharing a fingerprint end
    up in different groups), so the output is bit-identical to a group-by
    on text, NULL text included: SQL grouping puts every NULL in one group.

    ``fingerprint`` (list of Columns, default xxhash64+length) is
    injectable so tests can force the collision path with a weak hash.

    The trade, as in :func:`exact_dedup_keep_first`: every row's text rides
    the exchange as payload. A two-phase plan (fingerprint counts first,
    text only for multi-member groups) would move less text, but it
    consumes ``docs`` twice, so an unpinned upstream lineage re-runs.
    """
    part, fp_names = _fingerprint_exchange(
        docs, [F.col(id_col), F.col(text_col)], text_col, fingerprint)
    return (
        part.groupBy(*fp_names, text_col)
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
        .filter(F.col("n_copies") > 1)
        .select("keep_id", "n_copies")
    )


def exact_dedup_keep_first(docs: DataFrame, id_col: str = "doc_id",
                           text_col: str = "text",
                           fingerprint=None) -> DataFrame:
    """Exact dedup that RETURNS THE DEDUPED CORPUS (keeper = min id per
    identical text), preserving all input columns — the form a pipeline
    composes (``prepare_training_corpus`` stage 3).

    One pass over ``docs``: a single exchange keyed on the
    ``(xxhash64(text), length)`` fingerprint, never on text, then a window
    over the fingerprint alone, ordered by ``(text, id)``. Equal texts sit
    next to each other in that order with the min id first, so a row is
    kept when it opens its partition or its text is not null-safe equal to
    the previous row's — the min-id row per distinct text, NULL text
    included (the NULLs sort together and ``<=>`` matches them). The
    exchange already clusters the window partition, so the window adds a
    sort, not a second shuffle; the text order splits the rare
    fingerprint collision.

    Why the window is keyed on the fingerprint alone: Catalyst pushes a
    filter that references only a window's partition columns below the
    window, and from there below the exchange. With ``text`` among the
    partition keys, a downstream filter on text (the quality floor) sank
    under the exchange and re-derived the text there from ``docs``' own
    expressions, so every regex stage upstream (C4 cleaning, the PII
    scrub) ran twice per document. The fingerprint columns exist only in
    this operator, so no filter from above can reference them alone.

    The trade: every row's text rides the exchange as payload, where a
    two-phase plan (fingerprint counts first, text only for multi-member
    groups) would shuffle text for candidates alone. But the two-phase
    plan consumes ``docs`` three times — the count, the unique rows and
    the candidates — and an unpinned upstream lineage (scan, cleaning,
    PII scrub) re-runs once per consumer. Here it runs once.
    """
    part, fp_names = _fingerprint_exchange(docs, ["*"], text_col,
                                           fingerprint)
    w = Window.partitionBy(*fp_names).orderBy(F.col(text_col).asc(),
                                              F.col(id_col).asc())
    opens_text = (F.row_number().over(w) == 1) | ~F.col(text_col).eqNullSafe(
        F.lag(text_col).over(w))
    return (part.withColumn("__keep", opens_text)
            .filter(F.col("__keep"))
            .drop("__keep", *fp_names))


def doc_fingerprints(docs: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """One fingerprint row per DISTINCT text in ``docs``: ``(__fp, __fplen,
    keep_id)`` with keep_id = min id. This is the persistable dedup INDEX —
    store it (parquet, bucketed by ``__fp`` for co-located incremental
    joins) so tomorrow's ingest dedups against the whole historical corpus
    without rescanning it."""
    out = (docs.select(F.col(id_col), *_default_fingerprint(text_col))
           .groupBy("__fp", "__fplen")
           .agg(F.min(id_col).alias("keep_id")))
    # The builder KNOWS its fingerprint is total (NULL text → __fplen=-1,
    # never NULL) — attach that as metadata so a build→ingest handoff in
    # one session skips incremental_exact_dedup's NULL-__fplen migration
    # probe, which would otherwise EAGERLY materialize this whole
    # aggregate once just for take(1). Derived frames drop the attribute
    # and fall back to the probe — pre-total persisted indexes are still
    # refused.
    out._index_manifest = {"fp_total": True}
    return out


def incremental_exact_dedup(new_docs: DataFrame, index: DataFrame,
                            id_col: str = "doc_id",
                            text_col: str = "text") -> tuple[DataFrame, DataFrame]:
    """Incremental exact dedup — the operational form at 100 TB, where the
    corpus is ingested continuously and each batch must dedup against
    EVERYTHING seen so far without touching it: returns
    ``(fresh_docs, updated_index)`` where ``fresh_docs`` are the new
    batch's rows whose text was neither in the historical ``index``
    (from :func:`doc_fingerprints`) nor duplicated within the batch, and
    ``updated_index`` is the union index to persist for the next batch.

    Plan shape: the batch is deduplicated within itself first
    (:func:`exact_dedup_keep_first`, fingerprint-keyed), then anti-joined
    against the index on the fingerprint columns (null-safe) — the
    historical corpus participates only through its KB-per-million-docs
    fingerprint index, and with both sides bucketed by ``__fp`` the join
    is co-located (no index shuffle per batch). Collision caveat: the
    index stores fingerprints only, so an across-batch 64-bit+length
    collision (≈2^-64 per colliding pair) maps to a false drop — the
    documented trade of every persisted-index dedup; widen the fingerprint
    (md5) where that matters.
    """
    batch = exact_dedup_keep_first(new_docs, id_col, text_col)
    with_fp = batch.select("*", *_default_fingerprint(text_col))
    # PLAIN equality, not the null-safe helper: _default_fingerprint is total
    # (never NULL), so the semantics are identical — and only plain keys let
    # the planner use a bucketed index's layout (a <=> join rewrites keys to
    # coalesce/isnull and disables bucketing).
    # MIGRATION GUARD (mirrors the semantic path's loud refusal): indexes
    # persisted BEFORE the fingerprint became total store the NULL-text group
    # with __fplen NULL; plain equality would no longer match it and silently
    # re-admit indexed NULL-text duplicates every batch. Probe cost: one
    # column-pruned scan that short-circuits on the first NULL (take(1));
    # per-DAILY-ingest, over a KB-per-million-docs index. Patching the column
    # on read instead (coalesce(__fplen, -1)) would fix the match but WRAP the
    # bucket column in an expression, silently disabling the exchange-free
    # bucketed join this path exists for — hence refuse-and-rebuild.
    # Fast path: a doc_fingerprints-built frame carries fp_total=True as
    # metadata — skip the probe entirely (an in-memory build→ingest handoff
    # would otherwise pay one full eager materialization of the index
    # aggregate just for take(1)).
    manifest = getattr(index, "_index_manifest", None)
    fp_total = bool(manifest and manifest.get("fp_total"))
    if not fp_total and index.filter(F.col("__fplen").isNull()).take(1):
        raise ValueError(
            "incremental_exact_dedup: index contains NULL __fplen rows — "
            "it predates the total fingerprint (NULL text → __fplen=-1). "
            "Rebuild it with doc_fingerprints (text-derived indexes carry "
            "no other state); patching __fplen on read would disable the "
            "bucketed join layout.")
    fresh = with_fp.join(index.select("__fp", "__fplen"),
                         ["__fp", "__fplen"], "left_anti")
    fresh_index = (fresh.groupBy("__fp", "__fplen")
                   .agg(F.min(id_col).alias("keep_id")))
    updated = index.select("__fp", "__fplen", "keep_id").unionByName(
        fresh_index)
    return fresh.drop("__fp", "__fplen"), updated


def tokenized_docs(docs: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text") -> DataFrame:
    """``(id, __toks)`` projection: one regex split per row. The near-dup
    paths persist THIS relation (docs-sized — id + token array ≈ the input
    bytes, nothing shingle-expanded) so every corpus-wide consumer shares
    one parquet scan and one split; MEMORY_AND_DISK so at 100 TB it spills
    like a shuffle write instead of evicting. Persisting the exploded
    shingle relation instead would pin a many-× larger dataset."""
    return docs.select(
        F.col(id_col), F.split(F.trim(F.col(text_col)), r"\s+").alias("__toks"))


def shingles_from_tokens(tok_df: DataFrame, id_col: str = "doc_id",
                         n: int = 3) -> DataFrame:
    """Distinct word n-gram shingles per doc from a ``tokenized_docs``
    projection: ``(id, shingle)``.

    Built with a sequence-of-offsets transform — no UDF, and the same
    construction is SQL-expressible for the oracle. The token array comes
    pre-materialized so the regex split runs once per row; inlining it into
    the transform lambda would re-split per shingle (O(tokens²) regex work
    — measured 3-4× slower at sf0.1).
    """
    toks = F.col("__toks")
    # guard: Spark sequence(1, 0) counts DOWN; emit an empty array for docs
    # shorter than n tokens instead.
    idx = F.when(F.size(toks) >= n, F.sequence(F.lit(1), F.size(toks) - (n - 1))
                 ).otherwise(F.array().cast("array<int>"))
    shingle = F.transform(idx, lambda i: F.concat_ws(" ", *[F.element_at(toks, i + k) for k in range(n)]))
    return (
        tok_df.select(F.col(id_col), F.explode(F.array_distinct(shingle)).alias("shingle"))
    )


def word_shingles(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
                  n: int = 3, tokens_col: str | None = None) -> DataFrame:
    """Distinct word n-gram shingles per doc: ``(id, shingle)`` —
    ``shingles_from_tokens`` over a fresh ``tokenized_docs`` projection,
    or over a caller-supplied token array column (``tokens_col``) so a
    pipeline that already materialized the split pays it once
    (prepare_training_corpus threads ONE tokenization through the
    near-dup, decontamination, and quality stages)."""
    if tokens_col is not None:
        tok = docs.select(F.col(id_col), F.col(tokens_col).alias("__toks"))
    else:
        tok = tokenized_docs(docs, id_col, text_col)
    return shingles_from_tokens(tok, id_col, n)


def _verify_pairs(tok: DataFrame, id_col: str, n: int,
                  candidates: DataFrame, threshold: float) -> DataFrame:
    """Exact Jaccard over candidate pairs only, via per-doc shingle SETS:
    one groupBy builds ``(set_size, sorted shingle array)`` per doc, the
    (small) candidate list joins it twice, and ``array_intersect`` sizes
    the overlap — |A∪B| = |A|+|B|−|A∩B|. Used by the LSH path, whose
    banding produces false-positive candidates that need exact
    verification.

    The sets are derived from the CANDIDATE docs' rows of the (persisted)
    ``tokenized_docs`` projection (broadcast semi-join on the candidate id
    set, then a candidate-sized explode) — only docs that appear in some
    candidate pair need a shingle set, and in a near-dup regime that is ≪
    the corpus, so no corpus-sized shingle relation is shuffled here and
    no second parquet scan or re-split is paid (a raw-docs re-scan here
    made minhash measurably slower). Trade-off: a doc's
    whole shingle set must fit in one row (fine — shingle sets are
    document-sized); for adversarially huge docs, cap shingles upstream.
    ``candidates`` is an engine pin (it feeds the id list twice and the
    final join) — released like every engine cache by
    ``caching.release_engine_pins`` (a bare .cache() here would escape
    the release contract the docstrings advertise)."""
    candidates = pin(candidates)
    cand_ids = (candidates.select(F.col("id_a").alias(id_col))
                .unionByName(candidates.select(F.col("id_b").alias(id_col)))
                .distinct())
    cand_sh = shingles_from_tokens(
        tok.join(F.broadcast(cand_ids), id_col, "left_semi"), id_col, n)
    # Sets are collected as 64-bit shingle hashes, not strings: the
    # intersection COUNT is what Jaccard needs, and |A∩B| over xxhash64
    # values equals |A∩B| over the strings absent a same-doc-pair 64-bit
    # collision (~1e-19 per pair) — while the collected arrays shrink from
    # n-gram strings to 8 bytes per element and array_intersect compares
    # longs instead of strings.
    stats = (cand_sh.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("set_size"),
        F.array_sort(F.collect_set(F.xxhash64("shingle"))).alias("sh_set")))
    st_a = stats.select(F.col(id_col).alias("id_a"),
                        F.col("set_size").alias("size_a"),
                        F.col("sh_set").alias("set_a"))
    st_b = stats.select(F.col(id_col).alias("id_b"),
                        F.col("set_size").alias("size_b"),
                        F.col("sh_set").alias("set_b"))
    n_inter = F.size(F.array_intersect(F.col("set_a"), F.col("set_b")))
    # Filter on the UNROUNDED ratio (the oracles filter `ni/(sa+sb-ni) >=
    # threshold` unrounded too); round only the projected output. Filtering
    # the rounded value would admit pairs in [threshold - 5e-7, threshold).
    jac = n_inter / (F.col("size_a") + F.col("size_b") - n_inter)
    return (
        candidates.join(st_a, "id_a").join(st_b, "id_b")
        .withColumn("__j", jac)
        .filter(F.col("__j") >= threshold)
        .select("id_a", "id_b", F.round("__j", 6).alias("jaccard"))
    )


def ngram_jaccard_pairs(docs: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text", n: int = 3,
                        threshold: float = 0.5,
                        max_df: int | None = 10000,
                        tokens_col: str | None = None) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs (id_a < id_b, jaccard ≥ threshold).

    Plan: explode distinct shingles → flag hot shingles (document frequency
    > ``max_df``, broadcast of the small hot list) → self-equi-join ONLY the
    sub-cap index (the DF cap bounds the per-shingle k² pair fan-out that
    stopword n-grams create at 100 TB) → per-pair intersection counts → add
    back each pair's EXACT hot-shingle overlap via per-doc hot sets carried
    on the (already needed) per-doc stats relation. One pass over the
    corpus, exact Jaccard for every emitted pair; the only approximation is
    that a pair sharing NOTHING BUT hot shingles is never emitted
    (boilerplate-only overlap — the documented inverted-index trade-off).

    Per-doc hot sets are tiny (≤ |hot list| 64-bit hashes each) and ride the
    same id-keyed join as the set sizes, so exactness costs no extra
    shuffle of the full shingle relation.

    Cache lifecycle: this plan persists two intermediates — the docs-sized
    ``tokenized_docs`` projection and the candidate-pair relation. They
    stay persisted after the returned plan materializes (a lazy plan cannot
    unpersist behind itself); they are registered as ENGINE pins, so a
    long-lived session releases exactly them with
    ``caching.release_engine_pins()`` (bench.py does this between queries)
    or wraps the materialization in ``caching.engine_pin_scope()`` —
    releasing before the action is safe (recompute), never wrong.
    """
    # ONE parquet scan + ONE regex split for the whole job: the token
    # projection is persisted (spillable) and feeds the hot-list agg, both
    # sides of the pair self-join, and the candidate stats pass. The
    # exploded SHINGLE relation stays unpersisted — pinning it would hold a
    # many-× larger dataset; re-running the cheap explode against cached
    # tokens is the right trade (the uncached-everything form re-scanned
    # and re-split the corpus 3×).
    if tokens_col is not None:
        # caller already materialized (and owns the cache of) the token
        # array — reuse it, pin nothing new
        tok = docs.select(F.col(id_col), F.col(tokens_col).alias("__toks"))
    else:
        tok = pin(tokenized_docs(docs, id_col, text_col))
    sh = shingles_from_tokens(tok, id_col, n)
    if max_df is None:
        # no DF cap: empty hot list, no counting pass
        hot = (sh.select("shingle").limit(0)
               .withColumn("__hot", F.lit(1)))
        index = sh
    else:
        hot = (sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("__df"))
               .filter(F.col("__df") > max_df)
               .select("shingle", F.lit(1).alias("__hot")))
        index = sh.join(F.broadcast(hot.select("shingle")), "shingle",
                        "left_anti")
    # ONE shuffle of the capped index feeds BOTH sides of the self-join
    # (the two aliased projections sit above the same repartition, so the
    # exchange materializes once instead of two independent subtrees each
    # re-running the explode + anti-join and writing its own shuffle) —
    # measured ~40% off the pair-join stage at sf0.1, identical pairs.
    # Scale-safe: the DF cap has already removed hot shingles BEFORE this
    # exchange, so per-task postings stay bounded (co-locating UNCAPPED
    # postings would not).
    part = index.repartition("shingle")
    a = part.select(F.col(id_col).alias("id_a"), "shingle")
    b = part.select(F.col(id_col).alias("id_b"), "shingle")
    # engine-pinned: the pair relation is tiny (near-dup candidates) and
    # feeds three subtrees — the candidate-id semi-join below (twice) and
    # the final stats join. pin(), not bare .cache(): every engine cache
    # must be releasable by caching.release_engine_pins.
    inter = pin(
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_cold"))
    )
    # Per-doc stats are only consumed for docs that appear in a candidate
    # pair — re-derive shingles for THAT id set alone from the cached token
    # projection (broadcast semi-join, then a candidate-sized explode): no
    # corpus-wide shuffle, no extra scan, no third corpus explode.
    cand_ids = (inter.select(F.col("id_a").alias(id_col))
                .unionByName(inter.select(F.col("id_b").alias(id_col)))
                .distinct())
    cand_sh = shingles_from_tokens(
        tok.join(F.broadcast(cand_ids), id_col, "left_semi"), id_col, n)
    stats = (cand_sh.join(F.broadcast(hot), "shingle", "left")
             .groupBy(id_col).agg(
                 F.count(F.lit(1)).alias("set_size"),
                 F.array_sort(F.collect_set(
                     F.when(F.col("__hot").isNotNull(), F.xxhash64("shingle"))))
                 .alias("hot_set")))
    st_a = stats.select(F.col(id_col).alias("id_a"),
                        F.col("set_size").alias("size_a"),
                        F.col("hot_set").alias("hot_a"))
    st_b = stats.select(F.col(id_col).alias("id_b"),
                        F.col("set_size").alias("size_b"),
                        F.col("hot_set").alias("hot_b"))
    n_inter = (F.col("n_cold")
               + F.size(F.array_intersect(F.col("hot_a"), F.col("hot_b"))))
    # Unrounded filter / rounded projection — see _verify_pairs.
    jac = n_inter / (F.col("size_a") + F.col("size_b") - n_inter)
    return (
        inter.join(st_a, "id_a").join(st_b, "id_b")
        .withColumn("__j", jac)
        .filter(F.col("__j") >= threshold)
        .select("id_a", "id_b", F.round("__j", 6).alias("jaccard"))
    )


def minhash_coefficients(num_perm: int,
                         seed: int = 42) -> list[tuple[int, int]]:
    """The ``(a_i, b_i)`` permutation coefficients of
    :func:`minhash_signatures` — ONE generator shared with the DuckDB
    oracle builder (queries/text.py embeds them as a VALUES table), so
    the coefficient stream cannot drift between engine and oracle."""
    import random

    rnd = random.Random(seed)
    return [(rnd.randrange(1, _MINHASH_P), rnd.randrange(0, _MINHASH_P))
            for _ in range(num_perm)]


def minhash_token_hash(hash_fn: str = "xxhash64"):
    """The per-shingle base hash ``h ∈ [0, p)`` of
    :func:`minhash_signatures`, as a Column over ``shingle``:

    - ``'xxhash64'`` (default): ``pmod(xxhash64(shingle), p)`` — the
      100 TB path (one JVM hash per shingle, no string materialized);
    - ``'md5'``: the first 8 hex digits of ``md5(shingle)`` parsed
      base-16, mod p — ~3× the per-token cost, but md5 exists
      BIT-IDENTICALLY in DuckDB (the ``simhash64_portable`` recipe
      applied to minhash), so signatures — and with
      them every LSH band and every signature-estimated Jaccard
      DECISION — are reproducible in ANSI SQL and hash-checkable by the
      driver. The verification twin, not the default."""
    if hash_fn == "xxhash64":
        return F.pmod(F.xxhash64(F.col("shingle")), F.lit(_MINHASH_P))
    if hash_fn == "md5":
        return F.pmod(
            F.conv(F.substring(F.md5(F.col("shingle")), 1, 8), 16, 10)
            .cast("long"), F.lit(_MINHASH_P))
    raise ValueError(
        f"minhash hash_fn={hash_fn!r}: expected 'xxhash64' or 'md5'")


def minhash_token_hash_sql(expr: str) -> str:
    """DuckDB twin of ``minhash_token_hash('md5')`` over a shingle
    expression — hex digits folded positionally (the portable-simhash
    ``strpos`` trick; DuckDB has no base-16 string parse)."""
    digits = " + ".join(
        f"(strpos('0123456789abcdef', substr(md5({expr}), {j + 1}, 1)) - 1)"
        f" * CAST({16 ** (7 - j)} AS BIGINT)"
        for j in range(8))
    return f"(({digits}) % {_MINHASH_P})"


def minhash_signatures(shingles: DataFrame, id_col: str, num_perm: int = 64,
                       seed: int = 42,
                       hash_fn: str = "xxhash64") -> DataFrame:
    """Minhash signature per doc: for permutation i, min over shingles of
    ``(a_i * h(shingle) + b_i) mod p`` with ``h`` per
    :func:`minhash_token_hash`. One groupBy computes all ``num_perm``
    mins (map-side partial agg keeps the shuffle tiny).

    The base hash ``h`` is HOISTED into a projection below the aggregate:
    inlined into all ``num_perm`` update expressions it would run
    once per permutation per shingle — aggregate update expressions get
    no guaranteed subexpression elimination — which for the md5-portable
    config is 64 md5+conv chains per shingle instead of one. The projection is
    multi-referenced and non-cheap, so CollapseProject leaves it
    materialized; same arithmetic, same values, and the shingle string
    never reaches the aggregate — only its 8-byte hash."""
    coeffs = minhash_coefficients(num_perm, seed)
    hashed = shingles.select(
        F.col(id_col), minhash_token_hash(hash_fn).alias("__h"))
    h = F.col("__h")
    aggs = [
        F.min((h * F.lit(a) + F.lit(b)) % F.lit(_MINHASH_P)).alias(f"mh_{i}")
        for i, (a, b) in enumerate(coeffs)
    ]
    return hashed.groupBy(id_col).agg(*aggs)


def _check_bands(num_perm: int, bands: int, where: str) -> int:
    """Validate the banding config and return rows-per-band. Shared by the
    batch and incremental LSH paths so the refusal (and the documented
    (1−s^r)^b recall algebra) cannot drift between them."""
    if bands <= 0 or num_perm % bands:
        # rows = num_perm // bands silently hitting 0 would make every band
        # hash a per-band CONSTANT — the equi-join degenerates to a full
        # n² cross product; a non-dividing bands count silently discards
        # permutations and changes the documented (1−s^r)^b recall.
        raise ValueError(
            f"{where}: bands={bands} must divide num_perm="
            f"{num_perm} exactly (rows per band = num_perm/bands)")
    return num_perm // bands


def _band_hash_cols(rows: int, bands: int) -> list:
    """One xxhash64 band-hash column per band over the ``mh_i`` signature
    columns — ONE builder for the batch self-join and the persisted
    incremental index, so a future change to the band-hash construction
    cannot silently desynchronize today's index from tomorrow's probe."""
    return [
        F.xxhash64(F.concat_ws("_", F.lit(bi),
                               *[F.col(f"mh_{bi * rows + r}")
                                 for r in range(rows)])).alias(f"band_{bi}")
        for bi in range(bands)
    ]


def _explode_band_rows(sigd: DataFrame, id_col: str,
                       bands: int) -> DataFrame:
    """``(id, band, bh)`` rows from a per-doc ``band_0..band_{b-1}``
    projection — the slim join-key shape both LSH candidate joins use."""
    return sigd.select(
        F.col(id_col),
        F.explode(F.array(*[
            F.struct(F.lit(bi).alias("band"), F.col(f"band_{bi}").alias("bh"))
            for bi in range(bands)
        ])).alias("b"),
    ).select(id_col, F.col("b.band").alias("band"), F.col("b.bh").alias("bh"))


def minhash_lsh_pairs(docs: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text", n: int = 3,
                      num_perm: int = 64, bands: int = 16,
                      threshold: float = 0.5) -> DataFrame:
    """MinHash+LSH near-dup pairs, exact-Jaccard-verified.

    bands×rows = num_perm; docs agreeing on any band become candidates
    (equi-join on band hash), then candidates are verified with exact
    shingle Jaccard so the output has no false positives — false-negative
    rate ≈ (1−s^r)^b for true similarity s. At 100 TB only the candidate
    pairs (a tiny fraction) ever pay the verification join.
    """
    rows = _check_bands(num_perm, bands, "minhash_lsh_pairs")
    # The signature build is the ONLY corpus-wide shingle pass; the exact
    # verification below re-derives shingles from the candidate docs alone,
    # against the SAME persisted token projection (one scan + one split
    # total — cache lifecycle note in ngram_jaccard_pairs).
    tok = pin(tokenized_docs(docs, id_col, text_col))
    sh = shingles_from_tokens(tok, id_col, n)
    # Band hashes fold into the projection directly above the signature
    # aggregate (same stage — the 64 mins never materialize separately),
    # and the relation is NOT persisted: the banding self-join's two sides
    # are identical subtrees, so Spark's ReuseExchange/AQE stage reuse runs
    # the signature build once and replays its shuffle output for the other
    # side. Persisting sig, re-projecting bands and repartitioning
    # explicitly before the join was measured 1.8× slower at sf0.1
    # (6.7s vs 3.6s): the persist paid a full docs-sized write+read and
    # the hardcoded-width repartition defeated AQE partition coalescing
    # while saving nothing the exchange reuse didn't already save.
    banded = minhash_signatures(sh, id_col, num_perm).select(
        F.col(id_col), *_band_hash_cols(rows, bands))
    bucket = _explode_band_rows(banded, id_col, bands)
    left = bucket.select(F.col(id_col).alias("id_a"), "band", "bh")
    right = bucket.select(F.col(id_col).alias("id_b"), "band", "bh")
    candidates = (
        left.join(right, ["band", "bh"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    # Exact verification on candidates only: shingles re-derived from the
    # candidate docs' cached token rows (candidate-sized explode).
    return _verify_pairs(tok, id_col, n, candidates, threshold)


#: columns of a persisted minhash band index (the lexical twin of
#: ``similarity._SIG_INDEX_COLS``) — band join keys, the keeper id, the
#: keeper's full signature carried ON the row, and the LSH config as
#: constant columns so the incremental path can REFUSE a mismatched index
_MH_INDEX_COLS = ("band", "bh", "keep_id", "keep_sig",
                  "nperm", "nbands", "ngram", "mhseed", "mhhash")


def _doc_band_signatures(tok: DataFrame, id_col: str, n: int,
                         num_perm: int, bands: int,
                         seed: int, hash_fn: str = "xxhash64") -> DataFrame:
    """Per-doc ``(id, sig, band_0..band_{b-1})`` from a token projection:
    the full minhash signature as one array column plus the band hashes,
    all folded into the single signature groupBy's projection (one
    corpus pass, no separate materialization). Docs with ZERO shingles
    (NULL/short text) have no row — they can never be lexical near-dups
    (empty shingle sets never verify), so both the batch and incremental
    paths keep them and leave them un-indexed."""
    rows = num_perm // bands
    sh = shingles_from_tokens(tok, id_col, n)
    return minhash_signatures(sh, id_col, num_perm, seed, hash_fn).select(
        F.col(id_col),
        F.array(*[F.col(f"mh_{i}") for i in range(num_perm)]).alias("sig"),
        *_band_hash_cols(rows, bands))


def minhash_band_index(docs: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text", n: int = 3,
                       num_perm: int = 64, bands: int = 16,
                       seed: int = 42,
                       hash_fn: str = "xxhash64") -> DataFrame:
    """The persistable LEXICAL near-dup index — the MinHash twin of
    :func:`doc_fingerprints` (exact) and
    ``similarity.embedding_signature_index`` (semantic): one row per
    (keeper doc, band) with ``(band, bh, keep_id, keep_sig)``, where
    ``keep_sig`` is the keeper's full ``num_perm``-component signature
    carried ON the row so a future batch's verification needs no second
    join against a signature store. Stored parquet-bucketed by
    ``(band, bh)``, tomorrow's ingest joins it exchange-free on the index
    side.

    Trade documented (same as the semantic index's ``keep_vec``):
    carrying the signature per band duplicates it ``bands``× (~8 KB per
    keeper at 64 perms × 16 bands — still orders of magnitude under the
    documents themselves, and parquet dictionary/RLE compresses the
    repeats). The alternative — a separate ``(keep_id, sig)`` store —
    saves that storage but pays a keeper-keyed shuffle join per ingest.
    The LSH config rides every row as constant columns (RLE ≈ free) so
    :func:`incremental_minhash_lsh_dedup` can refuse a config-mismatched
    index instead of silently matching nothing. ``docs`` must already be
    KEEPERS (deduped); shingle-less docs contribute no rows.
    ``hash_fn='md5'`` builds the SQL-portable signature variant
    (:func:`minhash_token_hash`) — same algebra, oracle-checkable."""
    _check_bands(num_perm, bands, "minhash_band_index")
    tok = tokenized_docs(docs, id_col, text_col)
    sigd = _doc_band_signatures(tok, id_col, n, num_perm, bands, seed,
                                hash_fn)
    banded = sigd.select(
        F.col(id_col).alias("keep_id"), F.col("sig").alias("keep_sig"),
        F.explode(F.array(*[
            F.struct(F.lit(bi).alias("band"), F.col(f"band_{bi}").alias("bh"))
            for bi in range(bands)
        ])).alias("b"))
    out = banded.select(
        F.col("b.band").alias("band"), F.col("b.bh").alias("bh"),
        "keep_id", "keep_sig",
        F.lit(num_perm).alias("nperm"), F.lit(bands).alias("nbands"),
        F.lit(n).alias("ngram"), F.lit(seed).alias("mhseed"),
        F.lit(hash_fn).alias("mhhash"))
    # The builder KNOWS the config — attach it as a manifest, so a
    # build→ingest handoff in one session takes the metadata-only fast
    # path instead of the fallback distinct scan, which costs a whole
    # extra signature pass over the index just to read five constants.
    # Derived frames drop the attribute and fall back to the scan.
    out._index_manifest = {"nperm": num_perm, "nbands": bands, "ngram": n,
                           "mhseed": seed, "mhhash": hash_fn}
    return out


def incremental_minhash_lsh_dedup(new_docs: DataFrame, index: DataFrame,
                                  id_col: str = "doc_id",
                                  text_col: str = "text", n: int = 3,
                                  num_perm: int = 64, bands: int = 16,
                                  threshold: float = 0.5, seed: int = 42,
                                  hash_fn: str = "xxhash64"
                                  ) -> tuple[DataFrame, DataFrame]:
    """Incremental MinHash-LSH near-dup dedup — the continuous-crawl form
    of :func:`minhash_lsh_pairs`, mirroring
    :func:`incremental_exact_dedup`'s contract:
    returns ``(fresh, updated_index)`` where ``fresh`` is the batch minus
    (a) within-batch near-dup cluster non-keepers and (b) rows whose
    signature matches an indexed keeper sharing a band — PRESERVING every
    batch column — and ``updated_index`` is the union index to persist
    for the next batch. The historical corpus participates only through
    its band index (:func:`minhash_band_index`); it is never re-banded or
    rescanned (a daily crawl ingest must not re-run banding over the full
    corpus).

    Verification convention, documented honestly: WITHIN the batch,
    candidates are exact-Jaccard-verified over shingle sets (the texts
    are in hand — identical to the batch path). ACROSS batches, the
    historical shingle sets are not carried (that would be the corpus),
    so candidates verify by SIGNATURE-estimated Jaccard — the fraction of
    agreeing minhash components vs the carried ``keep_sig``, the standard
    persisted-LSH practice (datasketch's MinHashLSH does the same). The
    estimator is unbiased with sd ≈ sqrt(s(1-s)/num_perm) (~0.06 at 64
    perms); EXACT copies agree on every component (estimate 1.0), so
    exact-copy recall is deterministic. Order caveat shared with every
    persisted-index dedup: a row dropping against an indexed keeper is
    not re-examined when a later batch would have clustered them
    differently — ingest order is part of the semantics.

    ``hash_fn='md5'`` swaps the per-shingle base
    hash for the SQL-portable md5 recipe (:func:`minhash_token_hash`):
    the signatures, and therefore the estimated-Jaccard DECISION above,
    become bit-reproducible in DuckDB, which is what puts this
    operator's cross-batch drop on the driver's hash-verified record
    (the ``doc_minhash_lsh`` ``incr_fresh``/``index`` legs). xxhash64
    stays the 100 TB default; the index carries ``mhhash`` so the two
    configs can never be silently mixed.

    Plan: ONE pinned token projection feeds the signature build, the
    within-batch exact verify, and nothing else; ONE pinned signature relation
    feeds the within-batch self-join, the cross-batch index join, and the
    estimated-Jaccard verify; the index update re-derives band rows map-only
    over the small ``fresh`` set. A long-running caller — a foreachBatch stream
    especially — MUST call ``caching.release_engine_pins()`` (or wrap the batch
    in ``caching.engine_pin_scope()``) after materializing both outputs, like
    the exact and semantic forms."""
    _check_bands(num_perm, bands, "incremental_minhash_lsh_dedup")
    missing = [c for c in _MH_INDEX_COLS if c not in index.columns]
    if missing:
        raise ValueError(
            f"incremental_minhash_lsh_dedup: index is missing columns "
            f"{missing} — build it with minhash_band_index")
    # config check. Fast path: an index built by minhash_band_index carries its
    # config as a manifest — validate METADATA-ONLY, zero index scans. Fallback
    # (derived or re-read frames): distinct over the five constant RLE columns
    # — distinct, not limit(1), because a heterogeneous index (segments unioned
    # from different configs) must be refused too; column-pruned, KB-scale per
    # (daily) ingest.
    manifest = getattr(index, "_index_manifest", None)
    if manifest is not None:
        got = tuple(manifest.get(k) for k in
                    ("nperm", "nbands", "ngram", "mhseed", "mhhash"))
        if got != (num_perm, bands, n, seed, hash_fn):
            raise ValueError(
                f"incremental_minhash_lsh_dedup: index manifest says it was "
                f"built with (num_perm, bands, n, seed, hash_fn)={got} but "
                f"this call uses ({num_perm}, {bands}, {n}, {seed}, "
                f"{hash_fn!r}) — band hashes would not match")
    else:
        cfg = [(r["nperm"], r["nbands"], r["ngram"], r["mhseed"],
                r["mhhash"]) for r in
               index.select("nperm", "nbands", "ngram", "mhseed", "mhhash")
               .distinct().collect()]
        if len(cfg) > 1:
            raise ValueError(
                f"incremental_minhash_lsh_dedup: index mixes LSH configs "
                f"{sorted(cfg)} — rebuild the segments under one "
                "(num_perm, bands, n, seed, hash_fn)")
        if cfg and cfg[0] != (num_perm, bands, n, seed, hash_fn):
            raise ValueError(
                f"incremental_minhash_lsh_dedup: index was built with "
                f"(num_perm, bands, n, seed, hash_fn)={cfg[0]} but this "
                f"call uses ({num_perm}, {bands}, {n}, {seed}, "
                f"{hash_fn!r}) — band hashes would not match")

    tok = pin(tokenized_docs(new_docs, id_col, text_col))
    sigd = pin(_doc_band_signatures(tok, id_col, n, num_perm, bands, seed,
                                    hash_fn))
    band_rows = _explode_band_rows(sigd, id_col, bands)

    # (a) within-batch: LSH candidates -> exact-verify tail (the batch
    # path's machinery over the SAME pinned tokens) -> components ->
    # min-id keeper. A 1M-pair driver budget: daily-batch pair lists are
    # small; the exact driver union-find skips the iterative machinery's
    # fixed multi-job overhead (same composition as
    # incremental_semantic_dedup).
    left = band_rows.select(F.col(id_col).alias("id_a"), "band", "bh")
    right = band_rows.select(F.col(id_col).alias("id_b"), "band", "bh")
    cand = (left.join(right, ["band", "bh"])
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b").distinct())
    pairs = _verify_pairs(tok, id_col, n, cand, threshold)
    comp = dedup_clusters(pairs.select("id_a", "id_b"),
                          driver_budget=1_000_000)
    drops = (comp.filter(F.col("member_id") != F.col("cluster_id"))
             .select(F.col("member_id").alias(id_col)))
    # no broadcast hints on drops/hits: both are batch-derived with no
    # size bound (a batch that heavily duplicates the index makes hits
    # approach batch size) — let AQE pick, like the exact/semantic forms
    survivors = new_docs.join(drops, id_col, "left_anti")

    # (b) cross-batch: survivors' band rows vs the index on (band, bh) —
    # exchange-free on a bucketed index — then one dedup to (row, keeper)
    # grain and the estimated-Jaccard verify against the carried keep_sig.
    # The batch row's own ``sig`` rides its band rows (the
    # incremental_semantic_dedup fusion applied to the lexical twin), so
    # the verify needs no join back against the pinned signature
    # relation — one shuffle join fewer per ingest. The carried signature
    # widens the batch's band rows by num_perm longs — the keep_sig trade
    # the index itself makes, on the daily small side only; ``sig`` is
    # functionally dependent on ``id_col``, so the (id, keep_id) dedup
    # result is unchanged.
    band_sig = sigd.select(
        F.col(id_col), F.col("sig"),
        F.explode(F.array(*[
            F.struct(F.lit(bi).alias("band"), F.col(f"band_{bi}").alias("bh"))
            for bi in range(bands)
        ])).alias("b"),
    ).select(id_col, "sig", F.col("b.band").alias("band"),
             F.col("b.bh").alias("bh"))
    surv_bands = band_sig.join(survivors.select(id_col), id_col,
                               "left_semi")
    xcand = (surv_bands.join(index, ["band", "bh"])
             .select(F.col(id_col), "sig", "keep_id", "keep_sig")
             .dropDuplicates([id_col, "keep_id"]))
    agree = F.aggregate(
        F.zip_with(F.col("sig"), F.col("keep_sig"),
                   lambda x, y: F.when(x == y, F.lit(1)).otherwise(F.lit(0))),
        F.lit(0), lambda acc, v: acc + v)
    # unrounded >= threshold, the verify-tail convention; integer
    # agreement count over longs — deterministic, no float summation
    hits = (xcand.filter(agree / F.lit(num_perm) >= F.lit(threshold))
            .select(id_col).distinct())
    # pinned: fresh feeds the caller's write AND the index update below
    fresh = pin(survivors.join(hits, id_col, "left_anti"))

    # (c) index update: the PINNED sig-carrying band rows already hold every
    # fresh keeper's (band, bh, sig) — semi-join them to the fresh ids instead
    # of re-tokenizing and re-hashing the fresh texts through a second
    # minhash_band_index pass (which would run the signature build TWICE per
    # ingest; the semi-join reads the cache). Shingle-less fresh docs have no
    # band rows in either construction — identical index contents.
    updated = index.select(*_MH_INDEX_COLS).unionByName(
        band_sig.join(fresh.select(id_col), id_col, "left_semi")
        .select(F.col("band"), F.col("bh"),
                F.col(id_col).alias("keep_id"),
                F.col("sig").alias("keep_sig"),
                F.lit(num_perm).alias("nperm"), F.lit(bands).alias("nbands"),
                F.lit(n).alias("ngram"), F.lit(seed).alias("mhseed"),
                F.lit(hash_fn).alias("mhhash")))
    return fresh, updated


def _simhash_from_votes(votes: DataFrame, docs: DataFrame | None,
                        id_col: str) -> DataFrame:
    """Sign→bit OR-fold + token-less-doc restore of
    :func:`simhash64_portable`. ``votes`` carries ``v_0..v_63`` per doc.

    Each bit term is INDEPENDENT and OR-chained linearly — folding ``sim``
    into both branches of a when() would duplicate the subtree per bit
    (exponential expression size, analyzer OOM). Token-less (null-text)
    docs vanish at the upstream explode; the left join restores them with
    simhash=0 (the all-negative-votes fingerprint of the original
    formulation). ``docs=None`` skips the restore and returns the bare
    ``(id, simhash)`` relation — for callers that already hold a
    one-row-per-doc relation and reattach with their OWN left join +
    coalesce(0), saving this function's extra source scan
    (doc_text_stats folds the restore into its existing join)."""
    masks = [(1 << i) if i < 63 else -(1 << 63) for i in range(64)]
    sim = F.lit(0).cast("long")
    for i, m in enumerate(masks):
        sim = sim.bitwiseOR(
            F.when(F.col(f"v_{i}") > 0, F.lit(m)).otherwise(F.lit(0).cast("long")))
    sig = votes.select(F.col(id_col), sim.alias("simhash"))
    if docs is None:
        return sig
    return (
        docs.select(id_col)
        .join(sig, id_col, "left")
        .select(F.col(id_col),
                F.coalesce(F.col("simhash"), F.lit(0).cast("long")).alias("simhash"))
    )


def simhash64_portable(docs: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text",
                       tokens_col: str | None = None,
                       restore: bool = True) -> DataFrame:
    """SimHash-64 over an ENGINE-PORTABLE token hash: md5 exists bit-for-bit
    identically in Spark and DuckDB, so the fingerprint is oracle-checkable
    (an xxhash64 token hash would be ~3× cheaper per token but has no
    DuckDB twin).

    Token hash bits: hex digit j of md5(token) (j = 0..15 → 64 bits), bit
    ``i`` = bit ``3 − i%4`` of digit ``i//4``. One map-side-combinable
    vote aggregate (64 codegen'd sums), then the sign/OR-fold tail
    (``_simhash_from_votes``).
    ``tokens_col``: consume a pre-materialized whitespace token array
    instead of re-splitting (doc_text_stats passes its shared projection,
    so the whole row splits its text once).
    ``restore=False`` returns the bare ``(id, simhash)`` relation without
    the token-less-doc restore join — see ``_simhash_from_votes``."""
    toks = (F.col(tokens_col) if tokens_col is not None
            else F.split(F.trim(F.col(text_col)), r"\s+"))
    tok = docs.select(
        F.col(id_col),
        F.explode(F.array_distinct(toks)).alias("__tok"),
    ).select(F.col(id_col), F.md5(F.col("__tok")).alias("__m"))
    # 16 hex-digit values as plain int columns; each is reused by 4 bit
    # extractions below (cheap scalar subtrees — safe to let Catalyst inline).
    digits = tok.select(
        F.col(id_col),
        *[F.conv(F.substring(F.col("__m"), j + 1, 1), 16, 10).cast("int")
          .alias(f"d_{j}") for j in range(16)],
    )
    votes = digits.groupBy(id_col).agg(*[
        F.sum(F.when(
            F.shiftright(F.col(f"d_{i // 4}"), 3 - i % 4).bitwiseAND(F.lit(1)) == 1,
            1).otherwise(-1)).alias(f"v_{i}")
        for i in range(64)
    ])
    return _simhash_from_votes(votes, docs if restore else None, id_col)


def _release_local_checkpoint(df: DataFrame) -> None:
    """Best-effort release of a SUPERSEDED ``localCheckpoint`` snapshot's
    storage blocks. ``DataFrame.unpersist`` is a CacheManager no-op for
    checkpoints, so this reaches the checkpointed RDD through the plan
    (LogicalRDD) — internal API, hence the blanket except: on failure the
    blocks simply live until the ContextCleaner GCs the RDD, the previous
    behavior. Only call on snapshots nothing references anymore — a
    checkpoint has no lineage to recompute from."""
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:
        pass


def _resolve_checkpoint_backend(spark, checkpoint: str) -> bool:
    """Pick the iterative-snapshot backend. Returns
    True for RELIABLE ``DataFrame.checkpoint()`` (snapshot written to the
    session checkpoint dir — replicated/durable storage, so a lost
    executor mid-iteration re-reads the round's labels instead of killing
    the job: ``localCheckpoint`` blocks are non-replicated executor state
    with NO recompute path once lineage is truncated), False for the
    single-JVM fast path ``localCheckpoint()`` (no filesystem round-trip;
    executor loss ≡ JVM loss locally, so durability buys nothing).

    ``auto`` = reliable exactly when the job is NOT on a local master and
    a checkpoint dir is configured (``session.get_spark`` always sets one;
    clusters should point SPARK_GRAFT_CHECKPOINT_DIR at the lake)."""
    if checkpoint not in ("auto", "local", "reliable"):
        raise ValueError(
            f"checkpoint={checkpoint!r}: expected 'auto', 'local', or "
            "'reliable'")
    if checkpoint == "local":
        return False
    has_dir = spark.sparkContext.getCheckpointDir() is not None
    if checkpoint == "reliable":
        if not has_dir:
            raise ValueError(
                "checkpoint='reliable' needs a checkpoint dir — call "
                "spark.sparkContext.setCheckpointDir(...) (session."
                "get_spark sets one automatically)")
        return True
    return has_dir and not spark.sparkContext.master.startswith("local")


def dedup_clusters(pairs: DataFrame, id_a: str = "id_a", id_b: str = "id_b",
                   max_iter: int = 20,
                   driver_budget: int | None = None,
                   stats: dict | None = None,
                   checkpoint: str = "auto") -> DataFrame:
    """Connected components over near-dup pairs → (member_id, cluster_id)
    with cluster_id = min member id. The step production dedup needs after
    pair generation: each cluster keeps one representative.

    ``driver_budget`` (the train_bpe/codebook-on-sample pattern): when
    set and the pair list fits the budget (probed with ``limit``), resolve
    components with a driver-side union-find — identical output, none of
    the per-round join+checkpoint job overhead that dominates small graphs
    (measured ~2-4 s of fixed cost for a 4-pair graph at sf0.1). Pair
    lists are near-dup-sized, so pipelines whose corpora yield modest pair
    counts (prepare_training_corpus passes 1M) skip straight past the
    iterative machinery; past the budget the distributed pointer-jumping
    path below runs unchanged — CALLERS relying on the fallback should
    pass a persisted ``pairs`` frame, since the probe consumes one
    materialization. Default None keeps the distributed path
    unconditional (the ``doc_dedup_clusters`` driver row verifies it).

    Distributed min-label propagation with POINTER JUMPING: every node
    starts labeled with itself; each round, a node (a) adopts the minimum
    label in its neighborhood (including itself), then (b) jumps — adopts
    its adopted label's own label from the previous round
    (``label ← label(label)``). The jump compounds the per-round reach
    (known-distance recurrence ``d_t ≥ d_{t-1} + d_{t-2}``), so rounds are
    O(log diameter) instead of O(diameter) — on a 100 TB corpus each round
    is a full shuffle-join job, and the jump turns a 20-round chain into
    ~6. (Pointer jumping is the classic PRAM shortcut of Shiloach-Vishkin
    1982; the min-label + hashing-to-neighborhood-min shape follows the
    public MapReduce connected-components family, e.g. Rastogi et al.
    2013 "Finding Connected Components in Map-Reduce".) Labels only ever decrease and always name a node in the same
    component, so the union-find fixed point is unchanged; the loop stops
    when a full round (adopt + jump) changes nothing, checked with one
    count per round. At a 100 TB corpus the pair list is the small
    relation here (near-dups are rare) — this never touches the full
    corpus.

    ``checkpoint`` selects the per-round snapshot backend — ``'auto'``
    (reliable on a non-local master with a checkpoint dir, else local),
    ``'local'`` (single-JVM fast path), ``'reliable'`` (durable
    ``DataFrame.checkpoint()`` — survives executor loss mid-loop; see
    :func:`_resolve_checkpoint_backend`). Output is backend-independent
    (unit-pinned).
    """
    if driver_budget is not None:
        # ONE pass decides AND fetches (a separate count probe would run
        # pair generation twice); Arrow transfer (toPandas), not
        # collect(): 1M pairs is ~16 MB of Arrow columns vs hundreds of MB
        # of Row objects, so the over-budget discard is cheap on the
        # driver.
        pdf = pairs.select(id_a, id_b).limit(driver_budget + 1).toPandas()
        if len(pdf) <= driver_budget:
            return _driver_union_find(pairs, list(
                zip(pdf[id_a].tolist(), pdf[id_b].tolist())), id_a)
    # Snapshot backend: reliable checkpoint() on a
    # cluster — each round's labels land on replicated/durable storage, so
    # a lost executor re-reads them (localCheckpoint state would be
    # unrecoverable: lineage is truncated, blocks unreplicated). Local
    # single-JVM runs keep the zero-filesystem fast path. The checkpoint
    # write job reads the round's PERSISTED blocks instead of recomputing
    # the plan (persist-before-checkpoint below), so
    # durability costs one cached read per snapshot, not a second compute
    # — round caches are pair-graph-sized. Superseded RELIABLE
    # snapshot files are GC'd by the ContextCleaner
    # (spark.cleaner.referenceTracking.cleanCheckpoints, set in
    # session.get_spark); the explicit block release below applies to the
    # local backend only.
    reliable = _resolve_checkpoint_backend(pairs.sparkSession, checkpoint)
    # persist-before-checkpoint: reliable
    # DataFrame.checkpoint() RE-RUNS the plan in a second job to write the
    # snapshot files after the first action; persisting the round's labels
    # first makes that write job read the cached blocks instead — the
    # standard Spark iterative-algo idiom, halving per-round compute on
    # clusters. Eager snapshots release their cache as soon as the
    # checkpoint is durable; lazy ones after the materializing count
    # (`settle` below), so at most one round's cache is ever held.
    # (snapshot, cache) pairs matched by snapshot IDENTITY — holding the
    # strong reference is the point (a dict keyed by id(out) alone would
    # hold no reference to the snapshot, so a GC'd lazy snapshot could
    # leak its persist and a later object reusing the same CPython id
    # would unpersist the wrong cache).
    _pending_caches: list[tuple[DataFrame, DataFrame]] = []

    def snapshot(df: DataFrame, eager: bool) -> DataFrame:
        if not reliable:
            return df.localCheckpoint(eager=eager)
        cached = df.persist(StorageLevel.MEMORY_AND_DISK)
        out = cached.checkpoint(eager=eager)
        if eager:
            cached.unpersist(blocking=False)
        else:
            _pending_caches.append((out, cached))
        return out

    def settle(df: DataFrame) -> None:
        """Release the persist backing a LAZY reliable snapshot once an
        action has materialized it (the checkpoint files are durable; the
        cache has served its read-for-the-write purpose)."""
        for i, (snap_df, cached) in enumerate(_pending_caches):
            if snap_df is df:
                del _pending_caches[i]
                cached.unpersist(blocking=False)
                return

    def release(df: DataFrame) -> None:
        settle(df)  # belt-and-braces on error paths
        if not reliable:
            _release_local_checkpoint(df)

    # The symmetrization union references `pairs` TWICE — without a cache
    # the whole upstream pair-generation plan (shingle explode, self-join,
    # verification) would execute once per branch. The pair relation is
    # near-dup-sized (tiny), so cache it for the one eager materialization
    # and release immediately after the checkpoint pins the edges.
    pairs_c = pairs.persist(StorageLevel.MEMORY_AND_DISK)
    edges = snapshot(
        pairs_c.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .unionByName(pairs_c.select(F.col(id_b).alias("src"),
                                    F.col(id_a).alias("dst")))
        .distinct(), eager=True)
    pairs_c.unpersist()
    labels = snapshot(edges.select(F.col("src").alias("node")).distinct()
                      .withColumn("label", F.col("node")), eager=True)
    # `snap` tracks the checkpointed snapshot backing `labels`; each round
    # frees the superseded one as soon as its successor is materialized, so
    # at most two pair-graph-sized snapshots are ever held (was: every
    # round's snapshot until session GC).
    snap = labels
    changed = 0
    rounds = 0
    for _ in range(max_iter):
        rounds += 1
        neigh_min = (edges.join(labels, edges["dst"] == labels["node"])
                     .groupBy("src").agg(F.min("label").alias("nmin")))
        # carry the previous label alongside the new one, so convergence
        # detection is a filter over THIS relation — not an extra
        # old-vs-new shuffle join per round (the adopt step is one join +
        # one groupBy per round total).
        adopted = (labels.join(neigh_min,
                               labels["node"] == neigh_min["src"], "left")
                   .select(F.col("node"), F.col("label").alias("__old"),
                           F.least(F.col("label"),
                                   F.coalesce(F.col("nmin"), F.col("label")))
                           .alias("__l1")))
        # pointer jump against the PREVIOUS round's labels (stale but
        # valid: labels are monotone decreasing and stay inside the
        # component, so label(label) is a legal, possibly-better label;
        # joining against `adopted` itself would recompute the adopt
        # lineage twice per round).
        hop = labels.select(F.col("node").alias("__jn"),
                            F.col("label").alias("__jl"))
        # Checkpoint (eager=False) rather than cache(): `labels` feeds THREE
        # subtrees per round, so a cache-only loop grows the LOGICAL plan
        # 3^t — execution stays truncated but analyzer/optimizer time
        # explodes after ~4 rounds (measured 1 s → 57 s/round by round 5).
        # Checkpointing truncates the plan itself; each snapshot is
        # pair-graph-sized. Fault tolerance is the backend's (see
        # `snapshot` above): reliable on clusters, local fast path on
        # local[N].
        # LAZY checkpoint + count: the convergence count is the action that
        # materializes the snapshot, so each round makes ONE pass over the
        # label relation instead of two (eager-checkpoint pass + count
        # pass) — at 100 TB that is one full shuffle job saved per round.
        # (Locally the loop's wall time is dominated by AQE's
        # job-per-query-stage scheduling — ~28 jobs for a 2-round run —
        # so the saving shows at data scale, not on toy graphs.)
        stepped = snapshot(
            adopted.join(hop, adopted["__l1"] == hop["__jn"], "left")
            .select(F.col("node"), F.col("__old"),
                    F.least(F.col("__l1"),
                            F.coalesce(F.col("__jl"), F.col("__l1")))
                    .alias("label")), eager=False)
        changed = stepped.filter(F.col("label") != F.col("__old")).count()
        # the count materialized the snapshot — the round cache backing a
        # reliable checkpoint write has served its purpose
        settle(stepped)
        # stepped is materialized (the count above triggers the lazy
        # checkpoint): the previous round's snapshot is now unreferenced —
        # free its blocks.
        release(snap)
        snap = stepped
        labels = stepped.select("node", "label")
        if changed == 0:
            break
    if stats is not None:
        # observability for the skew smoke: how many adopt+jump rounds the
        # graph actually needed (the O(log diameter) claim, measured)
        stats["rounds"] = rounds
    if changed != 0:
        # A component deeper than max_iter would return partially-propagated
        # labels — silently wrong clusters. Fail loudly instead.
        release(edges)
        release(snap)
        raise RuntimeError(
            f"dedup_clusters: min-label propagation did not converge in "
            f"{max_iter} rounds ({changed} labels still changing) — raise "
            "max_iter (component diameter exceeds it)")
    # The returned labels read from `snap` alone; the edge snapshot is done.
    release(edges)
    return labels.select(F.col("node").alias("member_id"),
                         F.col("label").alias("cluster_id"))


def _driver_union_find(pairs: DataFrame, rows, id_a: str) -> DataFrame:
    """Exact driver-side component resolution for budget-sized pair lists:
    union-find with min-id roots (attaching the larger root under the
    smaller keeps each set's root = its minimum member) + path halving.
    Output is bit-identical to the distributed pointer-jumping fixed
    point: one (member_id, cluster_id=min reachable id) row per node
    appearing in any pair."""
    from pyspark.sql.types import StructField, StructType

    parent: dict = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for r in rows:
        a, b = r[0], r[1]
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra
    out = [(n, find(n)) for n in parent]
    id_type = pairs.schema[id_a].dataType
    schema = StructType([StructField("member_id", id_type),
                         StructField("cluster_id", id_type)])
    return pairs.sparkSession.createDataFrame(out, schema)


def duplicate_window_spans(docs: DataFrame, id_col: str = "doc_id",
                           text_col: str = "text",
                           width: int = 10) -> DataFrame:
    """Exact-substring duplicate spans, the distributed form of Lee et al.
    2021 ("Deduplicating Training Data Makes Language Models Better",
    arXiv:2107.06499): flag every ``width``-token window whose exact text
    occurs MORE THAN ONCE anywhere in the corpus (across or within docs),
    then merge overlapping/adjacent flagged windows into maximal duplicated
    spans per doc. Returns one row per affected doc:
    ``(id, n_spans, dup_tokens, dup_frac)``.

    The reference formulation (a single-machine suffix array over the
    concatenated corpus) does not distribute; the standard shuffle-native
    equivalent is a fingerprint aggregation over all token windows:

    - window generation is a map-only explode of the persisted token
      projection — one row per token position (the same fan-out as the
      n-gram shingle index, and like it never persisted);
    - the window fingerprint is md5 of the window text (hex string) so a
      SQL oracle can recompute it bit-for-bit cross-engine; the production
      swap at 100 TB is ``xxhash64(text) + length`` (8-byte shuffle keys,
      with the window text in the group key to split collisions, like
      ``exact_dedup_groups``);
    - ONE repartition exchange on the fingerprint feeds BOTH the
      duplicate-count aggregation and the probe side of the flag-back
      left-semi join (the agg and the join reuse the same hash
      partitioning, so the window relation shuffles once);
    - span merging (gaps-and-islands) runs over the FLAGGED subset only —
      candidate-sized, not corpus-sized — as one per-doc sort window.
    """
    w = int(width)
    if w < 2:
        raise ValueError("width must be >= 2 (width-1 windows are exact "
                         "token frequency, not substring duplication)")
    tok = pin(tokenized_docs(docs, id_col, text_col))
    n = F.size(F.col("__toks"))
    starts = F.when(n >= w, F.sequence(F.lit(1), n - w + 1)).otherwise(
        F.array().cast("array<int>"))
    wins = (
        tok.select(F.col(id_col), n.alias("__n"), F.col("__toks"),
                   F.explode(starts).alias("start"))
        .withColumn("whash", F.md5(F.concat_ws(
            " ", F.slice(F.col("__toks"), F.col("start"), w))))
        .drop("__toks"))
    wins_part = wins.repartition("whash")
    dup_hashes = (wins_part.groupBy("whash")
                  .agg(F.count(F.lit(1)).alias("__c"))
                  .filter(F.col("__c") > 1).select("whash"))
    flagged = wins_part.join(dup_hashes, "whash", "left_semi")
    # Gaps-and-islands: a flagged window starts a new span iff it neither
    # overlaps nor is adjacent to the previous one (start > prev + w —
    # exact adjacency merges, the two windows cover contiguous tokens).
    order = Window.partitionBy(id_col).orderBy("start")
    isl = (
        flagged.withColumn("__prev", F.lag("start").over(order))
        .withColumn("__new", F.when(
            F.col("__prev").isNull()
            | (F.col("start") > F.col("__prev") + w), 1).otherwise(0))
        .withColumn("island", F.sum("__new").over(
            order.rowsBetween(Window.unboundedPreceding, Window.currentRow))))
    spans = (isl.groupBy(id_col, "__n", "island")
             .agg((F.max("start") + w - F.min("start")).alias("cov")))
    return (
        spans.groupBy(id_col, "__n")
        .agg(F.count(F.lit(1)).alias("n_spans"),
             F.sum("cov").cast("long").alias("dup_tokens"))
        .withColumn("dup_frac", F.round(F.col("dup_tokens") / F.col("__n"), 6))
        .select(id_col, "n_spans", "dup_tokens", "dup_frac")
    )

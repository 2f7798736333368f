"""End-to-end training-corpus preparation: the standard public LLM data
pipeline (C4/Gopher/GPT-3/Llama recipes) composed from this repo's
operators in the canonical order:

    line-level clean (C4) → PII scrub → exact dedup → near-dup dedup
    → benchmark decontamination → quality floor → deterministic
    train/val split → token-budget sequence packing

Stage-ordering rationale (each choice is load-bearing at 100 TB):
- cleaning runs FIRST so every downstream hash/shingle/fingerprint sees
  the text that will actually be trained on (dedup on raw text would keep
  two docs whose cleaned forms are identical);
- PII scrub precedes dedup so redaction cannot split a duplicate group
  (two copies differing only in scrubbed content dedup together);
- exact dedup precedes near-dup so the O(pairs) machinery never scores
  byte-identical copies;
- decontamination and the quality floor run after dedup — they are
  per-doc filters, cheapest on the already-shrunk corpus;
- the split is a pure content-hash map (leakage-safe: duplicates would
  land in the same split — and dedup has already removed them);
- packing runs last, on exactly the docs that will ship.

Every stage is one of the repo's verified operators; this module adds no
new math, only the composition. Its correctness surface is the planted-
artifact invariants (tests/test_prep_pipeline.py) AND the registry
row's chained DuckDB oracle (queries/corpusq.py
``_prep_oracle``), which reproduces the ENTIRE composition in SQL so the
driver hash-checks the stage wiring end-to-end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..caching import pin
from .cleaning import c4_stats, gopher_keep
from .corpus import _portable_hv, flag_contaminated, pack_sequences
from .dedup import dedup_clusters, exact_dedup_keep_first, ngram_jaccard_pairs
from .pii import scrub_pii
from .text_stats import quality_score, token_count_regex


def prepare_training_corpus(docs: DataFrame,
                            benchmark: DataFrame | None = None, *,
                            id_col: str = "doc_id", text_col: str = "text",
                            min_quality: float = 0.05,
                            near_dup_threshold: float = 0.8,
                            near_dup_max_df: int | None = 10000,
                            apply_gopher: bool = False,
                            gopher_first: bool = False,
                            quality_clf: dict | None = None,
                            lang_filter: dict | None = None,
                            mixture: dict | None = None,
                            train_frac: float = 0.9,
                            pack_budget: int = 2048,
                            n_shards: int = 64,
                            portable_shard: bool = False) -> DataFrame:
    """Run the full preparation pipeline; returns the packed training set:
    ``(id, text, split, n_tokens, shard, pack_id)`` where ``text`` is the
    cleaned+scrubbed form, ``split`` ∈ {train, val} by content hash, and
    ``n_tokens`` is populated for EVERY row (val loaders budget by it
    too); ``shard``/``pack_id`` are NULL on val rows — packing applies to
    the training split only.

    ``benchmark`` (optional) is a DataFrame with a ``text`` column of
    evaluation documents to decontaminate against (13-gram overlap).

    Gopher placement: ``gopher_first=True`` applies the Gopher
    document rules to the RAW documents before the C4 line filter — the
    ordering the Gopher/MassiveText paper uses, and the one under which the
    bullet-line and ellipsis-line fraction rules can actually fire.
    With the default ``gopher_first=False`` (+ ``apply_gopher=True``) the
    rules run on C4-cleaned text, where every surviving line already ends
    in terminal punctuation — so the bullet/ellipsis line rules are
    vacuous and Gopher effectively reduces to its word-count / word-length
    / symbol / alpha / stop-word rules. ``gopher_first=True`` IMPLIES the
    filter is on (passing it alone would otherwise be a silent no-op).

    ``quality_clf``: the LEARNED quality filter (GPT-3/CCNet
    curated-vs-raw recipe) as an additional stage-6 gate —
    ``{"model": fit_logreg_exact output, "idf": the FROZEN fit_tfidf_idf
    table the model was trained under, "dim": hashing dim,
    "salt": the hashing salt the model was trained under (default
    'tfidf-v1' — MUST match training, or bucket assignments silently
    differ), "threshold": keep-probability floor (default 0.5)}``. Applied AFTER
    the heuristic floor, map-only (frozen-idf vectorize → score —
    no fit pass inside prep). Optional and off by default: the heuristic
    floor keeps prep's chained DuckDB oracle intact, while the classifier
    stage is unit-verified (extensions/classifier.py documents why libm
    exp cannot meet the cross-engine zero-tolerance hash).

    ``lang_filter``: language selection with the TRAINED lang-ID
    (``langid.fit_lang_id``) — ``{"model": fit_lang_id output, "keep":
    ["en", ...], "fallback": 'heuristic'|'und' (default 'heuristic')}``.
    Applied after the heuristic quality floor: one scan — Arrow-batched
    per-language fixed-point score folds → argmax → keep rows whose predicted
    language is in ``keep`` (feature-less docs predict via the fallback
    and survive only if that answer is in ``keep`` — include ``'und'``
    in ``keep`` to retain no-evidence docs). Optional and off by
    default, the ``quality_clf`` convention: prep's chained DuckDB
    oracle is untouched, and the lang-ID decision itself is
    DuckDB-hash-checked in tests/test_langid.py.

    ``mixture``: temperature source mixing
    (``mixing.temperature_sample``) — ``{"total_budget": tokens,
    "alpha": 0.3, "source_col": 'lang', "salt": ...}``. Runs after
    every quality gate and BEFORE the split (the mixture shapes what
    the run trains on; val is carved from the mixed corpus so it is
    distribution-matched): per-source whitespace-token mass (the
    pinned ``__toks`` array — no re-split) → ``n^alpha`` weights →
    largest-remainder integer budgets → deterministic hash-order
    prefix fill; survivors semi-join back. The source column is read
    from the RAW input frame by id (cleaning dropped it at stage 1).
    Optional and off by default; the fill decision is
    DuckDB-hash-checked in tests/test_mixing.py."""
    if gopher_first:
        apply_gopher = True
        docs = docs.filter(gopher_keep(text_col))

    # 1. C4 line-level clean: drop failing pages, keep the cleaned text.
    cleaned = (docs.select(id_col, *c4_stats(text_col))
               .filter(F.col("keep_page"))
               .select(id_col, F.col("cleaned").alias(text_col)))

    # 2. PII scrub (map-only regexp chain).
    scrubbed = cleaned.select(id_col, scrub_pii(text_col).alias(text_col))

    # 3. Exact dedup: keeper = min id per identical text. One pass
    #    (dedup.exact_dedup_keep_first): the only exchange keys on
    #    xxhash64(text)+length, with text as payload, so the C4+PII
    #    prefix runs once per materialization.
    #    Persisted (docs-sized, spillable): the cleaned+scrubbed+deduped
    #    relation feeds BOTH the near-dup pair generation (which
    #    dedup_clusters materializes eagerly) and the final corpus chain —
    #    uncached, the whole C4+PII+dedup prefix would execute once per
    #    consumer (measured 1.9× end-to-end at sf0.1). Released via the
    #    engine-pin contract (caching.release_engine_pins / pin_scope).
    #    ONE tokenization: the pinned relation carries
    #    the whitespace token array, and every downstream consumer that
    #    needs tokens — near-dup shingles, 13-gram decontamination
    #    shingles, the quality floor's alpha-token fraction — reads THIS
    #    column instead of re-splitting the corpus (three regex passes
    #    saved per run, CPU that at 100 TB dominates the map stages).
    exact = pin(exact_dedup_keep_first(scrubbed, id_col, text_col)
                .withColumn("__toks",
                            F.split(F.trim(F.col(text_col)), r"\s+")))

    # 4. Near-dup dedup: trigram-Jaccard pairs → connected components →
    #    drop every non-minimum member.
    pairs = ngram_jaccard_pairs(exact, id_col, text_col,
                                n=3, threshold=near_dup_threshold,
                                max_df=near_dup_max_df, tokens_col="__toks")
    # driver_budget: modest pair lists resolve with an exact driver-side
    # union-find instead of paying the iterative machinery's per-round job
    # overhead; past 1M pairs the distributed pointer jumping runs. The
    # pair plan reads from the pinned `exact`, so the probe's extra
    # materialization in the over-budget case re-reads cache, not lineage.
    comp = dedup_clusters(pairs.select("id_a", "id_b"), driver_budget=1_000_000)
    drops = (comp.filter(F.col("member_id") != F.col("cluster_id"))
             .select(F.col("member_id").alias(id_col)))
    deduped = exact.join(F.broadcast(drops), id_col, "left_anti")

    # 5. Benchmark decontamination (13-gram overlap, corpus never shuffles).
    if benchmark is not None:
        flags = flag_contaminated(deduped, benchmark, id_col, text_col,
                                  tokens_col="__toks")
        deduped = (deduped.join(flags, id_col)
                   .filter(~F.col("contaminated")).drop("contaminated"))

    # 6. Quality floor (pure column expression); optionally also the full
    #    Gopher/MassiveText document rules (cleaning.gopher_keep — off by
    #    default: the paper's 50-word floor and stop-word requirement
    #    assume web-scale English prose and would wipe short-doc corpora;
    #    see the docstring for gopher_first, the paper's raw-document
    #    placement).
    kept = deduped.filter(
        quality_score(text_col, toks=F.col("__toks")) >= min_quality)
    if apply_gopher and not gopher_first:
        kept = kept.filter(gopher_keep(text_col))
    if lang_filter is not None:
        from .langid import predict_lang_trained

        keep_langs = list(lang_filter["keep"])
        if not keep_langs:
            raise ValueError(
                "prepare_training_corpus: lang_filter['keep'] is empty — "
                "it would drop the whole corpus")
        preds = predict_lang_trained(
            kept, lang_filter["model"], id_col=id_col, text_col=text_col,
            fallback=lang_filter.get("fallback", "heuristic"))
        lang_ids = (preds.filter(F.col("pred_lang").isin(*keep_langs))
                    .select(id_col))
        # docs-sized semi join on the shrunk corpus; the scored side is
        # map-only off `kept`'s pinned lineage (the quality_clf shape)
        kept = kept.join(lang_ids, id_col, "left_semi")
    if quality_clf is not None:
        from .classifier import score_logreg
        from .corpus import hashed_tfidf_vectors

        thr = float(quality_clf.get("threshold", 0.5))
        clf_dim = int(quality_clf["dim"])
        n_w = len(quality_clf["model"]["weights"])
        if n_w != clf_dim:
            # a mismatch would make every vector fail score_logreg's
            # length check, score NULL, and silently drop the WHOLE
            # corpus — refuse loudly instead (the idf-length twin check
            # lives in hashed_tfidf_vectors)
            raise ValueError(
                f"prepare_training_corpus: quality_clf model has {n_w} "
                f"weights but dim={clf_dim} — the classifier must be "
                "trained under the same hashing dimension it scores")
        vecs = hashed_tfidf_vectors(
            kept, id_col=id_col, text_col=text_col, dim=clf_dim,
            salt=quality_clf.get("salt", "tfidf-v1"),
            idf=quality_clf["idf"])
        keep_ids = (score_logreg(vecs, quality_clf["model"])
                    .filter(F.col("quality_prob") >= thr)
                    .select(id_col))
        # docs-sized semi join on the already-shrunk corpus; the scored
        # side is map-only off `kept`'s pinned lineage
        kept = kept.join(keep_ids, id_col, "left_semi")
    if mixture is not None:
        from .mixing import temperature_sample

        src_col = mixture.get("source_col", "lang")
        cand = (kept.select(F.col(id_col),
                            F.size("__toks").cast("long").alias("__mix_tok"))
                .join(docs.select(id_col, src_col), id_col, "left"))
        flags = temperature_sample(
            cand, source_col=src_col, token_col="__mix_tok",
            total_budget=int(mixture["total_budget"]),
            alpha=float(mixture.get("alpha", 0.3)), id_col=id_col,
            salt=mixture.get("salt", "token-budget-42"))
        kept = kept.join(flags.filter(F.col("kept")).select(id_col),
                         id_col, "left_semi")

    # 7. Deterministic content-hash split (train_frac of the 32-bit hash
    #    space → train). THE SAME portable-md5 helper as stratified_sample /
    #    pack_sequences (not a re-implementation: a second copy could
    #    drift from the md5 recipe the DuckDB oracle reproduces):
    #    rerun-, repartition-, and engine-stable; no RNG state.
    hv = _portable_hv(F.col(text_col))
    split = F.when(hv < F.lit(float(1 << 32)) * train_frac, "train").otherwise("val")
    # n_tokens is a per-doc map expression — compute it for EVERY row (the
    # documented output contract; a val loader budgets by it too), and let
    # packing reuse it via tokens_col instead of re-splitting. (It counts
    # under the BPE-ish regex, a DIFFERENT tokenization than the shared
    # whitespace array — deliberately not derived from __toks.)
    labeled = (kept.drop("__toks")
               .withColumn("split", split)
               .withColumn("n_tokens", token_count_regex(text_col)))

    # 8. Token-budget packing of the train split only (val ships unpacked
    #    rows with shard/pack_id null via the left join).
    #    ``portable_shard`` forwards to pack_sequences (md5 shard instead of
    #    xxhash64) — the oracle convention that lets the registry row's
    #    DuckDB twin reproduce shard/pack_id bit-for-bit; production keeps
    #    the cheaper JVM hash.
    packs = pack_sequences(labeled.filter(F.col("split") == "train"),
                           budget=pack_budget, n_shards=n_shards,
                           id_col=id_col, text_col=text_col,
                           tokens_col="n_tokens",
                           portable_shard=portable_shard)
    return (labeled.join(packs.select(id_col, "shard", "pack_id"),
                         id_col, "left"))

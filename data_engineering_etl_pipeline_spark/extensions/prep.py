"""End-to-end training-corpus preparation: the standard public LLM data
pipeline (the C4 / GPT-3 / Llama recipe shape) composed from this repo's
operators, once, in the canonical order:

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

The composition is fixed: there are no stage toggles. Other curation
steps (the Gopher rules, the learned quality gate, lang-ID, token-budget
fill) are operators of their own, each called by its own registry row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..caching import pin
from .cleaning import c4_stats
from .corpus import _portable_hv, flag_contaminated, pack_sequences
from .dedup import dedup_clusters, exact_dedup_keep_first, ngram_jaccard_pairs
from .pii import scrub_pii
from .text_stats import quality_score, token_count_regex


def prepare_training_corpus(docs: DataFrame,
                            benchmark: DataFrame | None = None, *,
                            id_col: str = "doc_id", text_col: str = "text",
                            near_dup_max_df: int | None = 10000,
                            pack_budget: int = 2048,
                            n_shards: int = 64) -> DataFrame:
    """Run the full preparation pipeline; returns the packed training set:
    ``(id, text, split, n_tokens, shard, pack_id)`` where ``text`` is the
    cleaned+scrubbed form, ``split`` ∈ {train, val} by content hash, and
    ``n_tokens`` is populated for EVERY row (val loaders budget by it
    too); ``shard``/``pack_id`` are NULL on val rows — packing applies to
    the training split only.

    ``benchmark`` (optional) is a DataFrame with a ``text`` column of
    evaluation documents to decontaminate against (13-gram overlap)."""
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

    # 4. Near-dup dedup: trigram-Jaccard pairs at Jaccard >= 0.8 →
    #    connected components → drop every non-minimum member.
    pairs = ngram_jaccard_pairs(exact, id_col, text_col,
                                n=3, threshold=0.8,
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

    # 6. Quality floor (pure column expression over the shared tokens).
    kept = deduped.filter(
        quality_score(text_col, toks=F.col("__toks")) >= 0.05)

    # 7. Deterministic content-hash split (90% of the 32-bit hash
    #    space → train). THE SAME portable-md5 helper as stratified_sample /
    #    pack_sequences (not a re-implementation: a second copy could
    #    drift from the md5 recipe the DuckDB oracle reproduces):
    #    rerun-, repartition-, and engine-stable; no RNG state.
    hv = _portable_hv(F.col(text_col))
    split = F.when(hv < F.lit(float(1 << 32)) * 0.9, "train").otherwise("val")
    # n_tokens is a per-doc map expression — compute it for EVERY row (the
    # documented output contract; a val loader budgets by it too), and let
    # packing reuse it via tokens_col instead of re-splitting. (It counts
    # under the BPE-ish regex, a DIFFERENT tokenization than the shared
    # whitespace array — deliberately not derived from __toks.)
    labeled = (kept.drop("__toks")
               .withColumn("split", split)
               .withColumn("n_tokens", token_count_regex(text_col)))

    # 8. Token-budget packing of the train split only (val ships unpacked
    #    rows with shard/pack_id null via the left join). The md5 shard
    #    (``portable_shard``, not xxhash64) lets the registry row's DuckDB
    #    twin reproduce shard/pack_id bit-for-bit.
    packs = pack_sequences(labeled.filter(F.col("split") == "train"),
                           budget=pack_budget, n_shards=n_shards,
                           id_col=id_col, text_col=text_col,
                           tokens_col="n_tokens",
                           portable_shard=True)
    return (labeled.join(packs.select(id_col, "shard", "pack_id"),
                         id_col, "left"))

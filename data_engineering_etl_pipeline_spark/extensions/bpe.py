"""Byte-pair-encoding tokenizer training & encoding (SURVEY.md §2.11
extension family): the Sennrich et al. 2016 BPE algorithm ("Neural Machine
Translation of Rare Words with Subword Units", ACL 2016), split Spark-first:

- the ONLY corpus-sized work is the word-frequency aggregation — one
  hash-groupBy whose shuffle carries each partition's DISTINCT words after
  map-side partial aggregation (vocabulary-sized, not corpus-sized);
- the merge-learning loop runs driver-side over the word-frequency table,
  which is KB-MB scale at any corpus size (this is how production
  tokenizer trainers work too: BPE needs word frequencies, never the
  corpus — the same codebook-vs-corpus split as the IVF/PQ fits);
- encoding applies the learned merge ranks per word inside an Arrow pandas
  UDF (GPT-2-style lowest-rank-pair loop) with a per-batch word cache —
  map-only, embarrassingly parallel over a 100 TB scan.

Determinism: pair-frequency ties break lexicographically, so the learned
merge list is a pure function of the word-frequency table (rerun- and
partitioning-stable), pinned by unit test.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

END = "</w>"  # end-of-word marker (Sennrich et al. §3.2)

# Refuse to collect word tables past this many rows: real vocabularies are
# far smaller; hitting this means someone pointed train_bpe at un-tokenized
# garbage (e.g. binary blobs). Override per call.
_VOCAB_ROW_BUDGET = 5_000_000


def word_frequencies(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """``(word, freq)`` over the corpus — the one distributed step of BPE
    training. Map-side partial agg makes the exchange vocabulary-sized."""
    from .text_stats import tokens

    return (
        docs.select(F.explode(tokens(F.col(text_col))).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word").agg(F.count(F.lit(1)).alias("freq"))
    )


def _pair_counts(vocab: dict[tuple[str, ...], int]) -> dict[tuple[str, str], int]:
    counts: dict[tuple[str, str], int] = {}
    for syms, freq in vocab.items():
        for i in range(len(syms) - 1):
            p = (syms[i], syms[i + 1])
            counts[p] = counts.get(p, 0) + freq
    return counts


def _merge_vocab(vocab: dict[tuple[str, ...], int],
                 pair: tuple[str, str]) -> dict[tuple[str, ...], int]:
    a, b = pair
    joined = a + b
    out: dict[tuple[str, ...], int] = {}
    for syms, freq in vocab.items():
        merged: list[str] = []
        i = 0
        while i < len(syms):
            if i < len(syms) - 1 and syms[i] == a and syms[i + 1] == b:
                merged.append(joined)
                i += 2
            else:
                merged.append(syms[i])
                i += 1
        key = tuple(merged)
        out[key] = out.get(key, 0) + freq
    return out


def train_bpe(word_freq: DataFrame, n_merges: int = 200,
              vocab_row_budget: int = _VOCAB_ROW_BUDGET,
              min_freq: int = 1) -> list[tuple[str, str]]:
    """Learn ``n_merges`` BPE merges from a ``(word, freq)`` table.

    Collects the word table (vocabulary-sized by construction — guarded by
    a ``limit(budget+1)`` probe, not trusted) and runs the reference merge
    loop: count symbol-pair frequencies weighted by word freq, merge the
    most frequent pair everywhere, repeat. Ties break lexicographically so
    the merge list is deterministic. Stops early when no pair repeats.

    ``min_freq`` is the 100 TB scale path: a
    DISTRIBUTED frequency-floor prefilter (one map-side ``freq >= k``
    filter, executed before — and fused by Catalyst into — the guarded
    collect), the SentencePiece / HF-tokenizers convention for web-scale
    corpora whose distinct-"word" table (typos, URLs, numbers, code) runs
    10⁸–10⁹ rows. With a floor, the collect is bounded by the number of
    words repeating ≥ k times — vocabulary-sized again — so huge corpora
    hit a recipe, not the budget refusal. Truncation effect on the learned
    merges: pair counts lose only mass contributed by sub-floor words
    (each < k occurrences), so any merge whose winning margin exceeds
    k·(#dropped words) is unchanged; rare-word-only merges (which a floor
    of k makes statistically meaningless anyway) may drop out of the tail
    of the list. ``min_freq=1`` keeps the exact reference semantics."""
    if min_freq > 1:
        word_freq = word_freq.filter(F.col("freq") >= int(min_freq))
    # ONE job enforces the guard AND fetches the table: collect through the
    # limit probe (a separate count() probe would run the corpus-sized
    # word aggregation twice).
    rows = word_freq.limit(vocab_row_budget + 1).collect()
    if len(rows) > vocab_row_budget:
        raise ValueError(
            f"train_bpe: word table exceeds {vocab_row_budget} rows — BPE "
            "training collects word FREQUENCIES (vocabulary-sized); a table "
            "this large means the input is not word-tokenizable text. "
            "Pre-filter the corpus (min_freq=k adds the distributed "
            "frequency floor) or raise vocab_row_budget.")
    vocab: dict[tuple[str, ...], int] = {}
    for r in rows:
        syms = tuple(r["word"][:-1]) + (r["word"][-1] + END,)
        vocab[syms] = vocab.get(syms, 0) + int(r["freq"])
    merges: list[tuple[str, str]] = []
    for _ in range(int(n_merges)):
        counts = _pair_counts(vocab)
        if not counts:
            break
        best_n = max(counts.values())
        if best_n < 2:
            break  # nothing repeats — further merges are arbitrary
        best = min(p for p, c in counts.items() if c == best_n)
        merges.append(best)
        vocab = _merge_vocab(vocab, best)
    return merges


#: DuckDB expressions for the symbol-string encoding of the SQL twin: a
#: word's symbol sequence rides as chr(31)-wrapped segments
#: (``⟂a⟂⟂b⟂…`` — every symbol wrapped, wraps doubled BETWEEN symbols) so
#: that merging pair (a,b) is ``replace(s, ⟂a⟂⟂b⟂, ⟂ab⟂)``: SQL replace
#: scans left-to-right without rescanning the replacement — exactly
#: ``_merge_vocab``'s non-overlapping pass (probe-verified on DuckDB
#: 1.0.0: [a,a,a] + (a,a) → [aa,a]) — and the doubled inner wraps keep
#: adjacent matches from sharing a boundary character. Sole encoding
#: assumption: no token contains chr(30)/chr(31) (control chars; the
#: corpus tokenizer splits on whitespace only, so they'd be corpus
#: garbage, and the Python side would conflate them identically anyway
#: since its symbols ARE plain strings).
_SEP = "chr(31)"
_SEP2 = "chr(31) || chr(31)"


def bpe_sql_ctes(n_merges: int, min_freq: int = 1,
                 corpus_cte: str = "bpe_corpus",
                 text_expr: str = "text") -> tuple[str, str, str]:
    """DuckDB twin of ``word_frequencies`` + ``train_bpe`` (+ the final
    per-word segmentation state), as a bounded-rounds UNROLLED CTE chain,
    so the merge sequence is hash-checkable: the DECISION (argmax pair
    count, ties lexicographic, stop when nothing repeats) is
    SQL-reproducible because the loop is deterministic and bounded.

    Returns ``(ctes, merges_select, final_vocab_cte)``:

    - ``ctes``: CTE definitions (caller splices after its own
      ``{corpus_cte}`` CTE, which must expose ``{text_expr}``) — word
      frequencies with the ``freq >= min_freq`` TRAIN flag (sub-floor
      words are excluded from pair counts but still carried, so the
      final state also encodes them = the unseen-word application of the
      learned merges, valid because applying merges in rank order equals
      the lowest-rank-pair iteration of ``_encode_word``: a later merge
      (q, ab) can only be learned after (a, b) was, so rank-order
      application never re-creates an applicable earlier pair);
      then ``n_merges`` rounds of pair-count → best-pair → replace.
    - ``merges_select``: SELECT yielding ``(merge_rank, left_sym,
      right_sym)`` — the learned sequence, ranks 0.. with early-stop
      rounds absent (empty best-CTEs propagate: an unchanged vocab
      yields the same empty argmax next round, matching the Python
      ``break``).
    - ``final_vocab_cte``: name of the CTE holding ``(word, freq, train,
      s)`` after all rounds; ``len(string_split(s[2:len(s)-1],
      chr(31)||chr(31)))`` is the word's learned token count.

    Every chained CTE is MATERIALIZED: v{k} is referenced twice (pair
    scan + next round), and DuckDB's default inlining would otherwise
    double the expression tree per round."""
    ctes: list[str] = []
    ctes.append(f"""bpe_wf AS MATERIALIZED (
      SELECT word, COUNT(*) AS freq
      FROM (SELECT unnest(string_split_regex(trim({text_expr}), '\\s+'))
              AS word FROM {corpus_cte})
      WHERE word <> '' GROUP BY word
    )""")
    ctes.append(f"""bpe_v0 AS MATERIALIZED (
      SELECT word, freq, freq >= {int(min_freq)} AS train,
             {_SEP} || array_to_string(
               list_append(cs[1:len(cs)-1], cs[-1] || '{END}'),
               {_SEP2}) || {_SEP} AS s
      FROM (SELECT word, freq, string_split(word, '') AS cs FROM bpe_wf)
    )""")
    for k in range(int(n_merges)):
        ctes.append(f"""bpe_p{k} AS MATERIALIZED (
      SELECT syms[i] AS a, syms[i + 1] AS b, SUM(freq) AS cnt
      FROM (SELECT freq, string_split(s[2:len(s)-1], {_SEP2}) AS syms
            FROM bpe_v{k} WHERE train),
           LATERAL (SELECT unnest(range(1, len(syms))) AS i)
      GROUP BY 1, 2
    )""")
        ctes.append(f"""bpe_b{k} AS MATERIALIZED (
      SELECT a, b FROM bpe_p{k} WHERE cnt >= 2
      ORDER BY cnt DESC, a ASC, b ASC LIMIT 1
    )""")
        ctes.append(f"""bpe_v{k + 1} AS MATERIALIZED (
      SELECT word, freq, train,
             replace(s,
               COALESCE((SELECT {_SEP} || a || {_SEP2} || b || {_SEP}
                         FROM bpe_b{k}), chr(30)),
               COALESCE((SELECT {_SEP} || a || b || {_SEP}
                         FROM bpe_b{k}), '')) AS s
      FROM bpe_v{k}
    )""")
    merges_select = "\n      UNION ALL\n      ".join(
        f"SELECT CAST({k} AS BIGINT) AS merge_rank, a AS left_sym, "
        f"b AS right_sym FROM bpe_b{k}"
        for k in range(int(n_merges)))
    return ",\n    ".join(ctes), merges_select, f"bpe_v{int(n_merges)}"


def _encode_word(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """GPT-2-style encode: repeatedly merge the present pair with the
    lowest learned rank until none of the word's pairs were learned."""
    if not word:
        return []
    syms = list(word[:-1]) + [word[-1] + END]
    while len(syms) > 1:
        pairs = [(syms[i], syms[i + 1]) for i in range(len(syms) - 1)]
        ranked = [(ranks[p], p) for p in set(pairs) if p in ranks]
        if not ranked:
            break
        _, (a, b) = min(ranked)
        out: list[str] = []
        i = 0
        while i < len(syms):
            if i < len(syms) - 1 and syms[i] == a and syms[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out
    return syms


def bpe_segment(text: str | Column,
                merges: list[tuple[str, str]]) -> Column:
    """Subword segmentation under a learned merge list, as an Arrow pandas
    UDF (``array<string>`` of subword units, ``</w>``-marked word ends).
    The merge ranks ride the closure (KB-scale, serialized once per task);
    a per-batch word cache exploits Zipf — most words repeat, so each
    distinct word is encoded once per batch."""
    ranks = {tuple(p): i for i, p in enumerate(merges)}

    @F.pandas_udf("array<string>")
    def seg(texts: pd.Series) -> pd.Series:
        # Tokenize EXACTLY like word_frequencies' split(trim(text),'\s+')
        # + empty-token filter — a Python strip()/\s+ shortcut diverges on
        # trailing newlines/tabs and NBSP, so the encoder would segment
        # words the trainer never counted.
        from .text_stats import java_ws_tokens

        cache: dict[str, list[str]] = {}
        out = []
        for t in texts:
            if t is None:
                out.append([])
                continue
            units: list[str] = []
            for w in java_ws_tokens(t):
                if w == "":
                    continue
                got = cache.get(w)
                if got is None:
                    got = cache[w] = _encode_word(w, ranks)
                units.extend(got)
            out.append(units)
        return pd.Series(out)

    t = F.col(text) if isinstance(text, str) else text
    return seg(t)


def bpe_token_count(text: str | Column,
                    merges: list[tuple[str, str]]) -> Column:
    """Learned-tokenizer token count — the budget metric sequence packing
    and context-window chunking actually need (the whitespace and regex
    counts in text_stats are its cheap proxies)."""
    return F.size(bpe_segment(text, merges)).cast("long")

"""Token-budget fill for training corpora: the "how many tokens of each
source does the run consume" step every large-scale pretraining pipeline
executes after curation (per-source budgets — Gao et al. 2020, The Pile,
arXiv:2101.00027 §1.2; token-budget corpus assembly). The curation
operators decide WHICH documents survive; this module decides which of
them fit each source's budget, in one batch
(:func:`sample_to_token_budget`) or across daily batches
(:func:`incremental_token_budget_fill`).

Determinism contract (the ``sampling`` module convention): within a
source, documents fill the budget in the engine's portable md5 hash
order of the id + salt — NOT arrival order (which over-selects whatever
was crawled first) — so the kept set is rerun-, repartition- and
engine-stable, and a serial SQL engine reproduces the fill DECISION
bit-for-bit with zero tolerance (:func:`token_budget_sql`): the fill is
exact integers end to end.

Plan contract: the corpus NEVER feeds a ``Window.partitionBy(source)``
full sort, which at scale would put a whole source on one task.
Selection is two-phase like
``balanced_sample_by_key``: a map-only partition-local prune keeps each
partition's within-budget prefix PLUS the first budget-crossing row
(forwarding the crossing row is what makes the prune sound — any
candidate that is not truly kept then sees forwarded predecessor mass
exceeding the budget, while truly-kept rows never order after a pruned
row, so their phase-2 sums are exact); the global per-source cumulative
sum runs over candidates only, and keeper ids join back as a flag.
Budget tables are sources-sized (KB) — broadcast by nature.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .corpus import _portable_hv
from .sampling import KEEPER_BROADCAST_ROWS


def _hv(id_col: str, salt: str) -> F.Column:
    """Portable 32-bit selection hash of the id + salt — the
    ``balanced_sample_by_key`` order, shared with :func:`token_budget_sql`."""
    return _portable_hv(
        F.concat(F.col(id_col).cast("string"), F.lit(f"|{salt}")))


def _hv_sql(id_expr: str, salt: str) -> str:
    return (f"CAST('0x' || substr(md5(CAST({id_expr} AS VARCHAR) "
            f"|| '|{salt}'), 1, 8) AS UBIGINT)")


def sample_to_token_budget(docs: DataFrame, budgets: dict | int,
                           key_col: str = "lang",
                           token_col: str = "n_tokens",
                           id_col: str = "doc_id",
                           salt: str = "token-budget-42") -> DataFrame:
    """Flag the deterministic hash-order PREFIX of each key's documents
    whose cumulative token count stays within the key's budget — returns
    ``(id_col, key_col, token_col, kept)`` for EVERY input row.
    ``budgets`` is a per-key dict (keys absent from it get budget 0 — an
    unallocated source contributes nothing, loudly visible in the flag)
    or one int applied to every key. A row is kept iff the cumulative
    sum INCLUDING it, taken in the portable hash order (md5 of id +
    salt, ties by id), is ``<= budget`` — the strict never-exceed prefix
    (a boundary-crossing doc is dropped whole; token budgets cut at
    document granularity, the ``pack_sequences`` step splits finer).

    Row identity is ``(id, key)`` (the ``balanced_sample_by_key``
    contract): copies share one budget slot and one flag; copies that
    disagree on the token count resolve to the MAX — the one resolution
    that stays layout-sound through the two-phase plan (see the prune
    comment; copies normally agree, the count being a function of the
    text); NULL token counts count 0 toward the budget and negative
    counts are CLAMPED to 0 (non-negative mass is what the prune's
    losslessness proof needs, and ``F.size`` of a NULL array is -1);
    NULL ids are never budget candidates (no deterministic identity to
    order on) and flow through with ``kept=False``; NULL keys form
    their own group.

    Plan (two-phase, no corpus-wide key sort): phase 1 is a map-only
    partition-local prune keeping each partition's within-budget prefix
    PLUS the first budget-crossing row — a row whose local EXCLUSIVE
    prefix already exceeds the budget can only rank worse globally (its
    global prefix is a superset of its local one), so dropping it is
    lossless, and forwarding the crossing row guarantees any candidate
    that is not truly kept sees forwarded predecessor mass over the
    budget in phase 2 (without it, a pruned positive-mass row's absence
    would let later zero/low-mass rows under-count their prefix — the
    Hypothesis-property finding). Survivors are at most budget-many
    non-empty docs + 1 per (key, partition). Phase 2 sorts candidates
    only: per-(id,key) MAX-token collapse, one window cumsum, keeper
    flag joined back (broadcast-hinted while the candidate bound is
    small). Zero-token docs never advance the sum and are kept while
    the prefix is still within budget (they are free)."""
    base, keepers, bcast = _fill_keepers(docs, budgets, key_col,
                                         token_col, id_col, salt)
    return _flags_from_keepers(base, keepers, bcast, key_col, token_col,
                               id_col)


def _fill_keepers(docs: DataFrame, budgets: dict | int, key_col: str,
                  token_col: str, id_col: str,
                  salt: str) -> tuple[DataFrame, DataFrame, bool]:
    """The two-phase fill core shared by :func:`sample_to_token_budget`
    and :func:`incremental_token_budget_fill`: ``(base, keepers,
    broadcastable)`` where ``base`` is the clamped input (one row per
    INPUT row) and ``keepers`` is ONE row per kept ``(id, key)`` ENTITY
    carrying its MAX-resolved mass as ``__tok`` — the DECISION grain, so
    per-key spent mass is ``SUM(__tok)`` over keepers: duplicate copies
    charge the budget once, at exactly the mass the keep decision used
    (summing the per-row flags output instead would count each copy at
    its own clamped value). ``broadcastable``: the keeper
    set is bounded by a dict budget small enough to hint the flag join."""
    if isinstance(budgets, int):
        if budgets < 0:
            raise ValueError(
                f"sample_to_token_budget: budget={budgets} must be >= 0")
        budget_of = None
        const_budget = budgets
    else:
        if any(b < 0 for b in budgets.values()):
            raise ValueError("sample_to_token_budget: negative budget")
        budget_of = dict(budgets)
        const_budget = None
    from ..caching import pin

    # NULL → 0, and negatives CLAMPED to 0: the prune's losslessness
    # argument needs non-negative mass (prefix sums must be monotone —
    # a negative row could resurrect pruned successors), and callers CAN
    # produce negatives innocently (F.size of a NULL array is -1).
    # token_budget_sql applies the same GREATEST(.., 0).
    base = pin(docs.select(
        F.col(id_col), F.col(key_col),
        F.greatest(F.coalesce(F.col(token_col), F.lit(0)), F.lit(0))
        .cast("long").alias(token_col)))
    # NULL ids are never budget candidates: they have no deterministic
    # identity to hash-order on (and pandas NaN-last vs Spark NULL-first
    # sort orders would disagree) — they flow through with kept=False,
    # consuming nothing; token_budget_sql mirrors with id IS NOT NULL.
    ranked = (base.filter(F.col(id_col).isNotNull())
              .withColumn("__hv", _hv(id_col, salt)))

    import pandas as pd

    schema = ranked.schema
    tok, key, idc = token_col, key_col, id_col
    if budget_of is not None:
        _nonnull_budgets = {k: v for k, v in budget_of.items()
                            if k is not None}
        _null_key_budget = budget_of.get(None, 0)

    def prune(batches):
        best: pd.DataFrame | None = None
        for pdf in batches:
            cat = (pdf if best is None
                   else pd.concat((best, pdf), ignore_index=True))
            # copies of one (id, key): keep the MAX token count. MAX —
            # not min — is what keeps the two-phase plan sound when
            # copies disagree (layout-stress finding): the partition-
            # local collapse can only UNDERestimate the global max, so
            # the prune keeps a superset (lossless), and if any copy is
            # pruned, that partition's forwarded prefix already weighs
            # more than the budget, so the entity — and every row after
            # it — is correctly dropped in phase 2 whatever mass its
            # surviving copies report. (Under min-resolution both
            # directions break: the min copy can be pruned away while a
            # heavier copy survives, and local prefixes overcount.)
            cat = (cat.sort_values(tok, kind="mergesort")
                   .drop_duplicates(subset=[key, idc], keep="last")
                   .sort_values(["__hv", idc], kind="mergesort",
                                ignore_index=True))
            cum = cat.groupby(key, sort=False, dropna=False)[tok].cumsum()
            if budget_of is None:
                lim = const_budget
            else:
                # vectorized dict lookup (no per-row Python on the
                # corpus hot path — the sampling-prune discipline):
                # Series.map(dict) leaves BOTH null keys and absent
                # keys as NaN; null keys then take the None entry's
                # budget (pandas renders a NULL key as None or NaN
                # depending on dtype — the NULL-key group must read ITS
                # budget, phase 1 must never prune a row phase 2 would
                # keep), absent keys take 0
                lim = cat[key].map(_nonnull_budgets)
                lim = (lim.where(~cat[key].isna(), _null_key_budget)
                       .fillna(0).astype("int64"))
            # EXCLUSIVE-prefix condition: keep the within-budget prefix
            # PLUS the first budget-crossing row per key. Forwarding the
            # crossing row is what makes the prune sound (caught by the
            # Hypothesis property): without it, a partition whose
            # positive-mass row was pruned contributes nothing to later
            # rows' phase-2 prefix sums, and a zero/low-mass row ordered
            # after it would under-count its global prefix and be
            # wrongly kept. With it, any candidate that is not truly
            # kept sees forwarded predecessor mass > budget (each
            # partition forwards either its whole group or a prefix
            # whose sum already exceeds the budget), while truly-kept
            # rows never order after any pruned row — their phase-2
            # sums stay exact. (The quota sampler gets this for free:
            # its forwarded 'quota rows per key' IS prefix-plus-boundary
            # in row units.)
            best = cat[(cum - cat[tok]) <= lim]
        if best is not None and len(best):
            yield best

    cand = ranked.mapInPandas(prune, schema)
    # per-(id, key) MAX-token collapse (see the prune comment for why
    # max is the sound resolution) — the same exchange the window
    # needs, so this adds no extra shuffle stage
    cand = (cand.groupBy(key_col, id_col)
            .agg(F.min("__hv").alias("__hv"),
                 F.max(token_col).alias("__tok")))
    if budget_of is None:
        blim = F.lit(const_budget).cast("long")
        withb = cand
    else:
        from pyspark.sql.types import LongType, StructField, StructType

        # the budget table's key column takes the CAND key's exact type
        # (sources are usually strings but nothing here requires it),
        # and the join is null-safe so a None-key budget entry reaches
        # the NULL-key group
        ktype = cand.schema[key_col].dataType
        bdf = cand.sparkSession.createDataFrame(
            [(k, int(v)) for k, v in budget_of.items()],
            StructType([StructField("__bkey", ktype),
                        StructField("__budget", LongType())]))
        withb = (cand.join(F.broadcast(bdf),
                           F.col(key_col).eqNullSafe(F.col("__bkey")),
                           "left").drop("__bkey"))
        blim = F.coalesce(F.col("__budget"), F.lit(0)).cast("long")
    w = (Window.partitionBy(key_col)
         .orderBy(F.col("__hv").asc(), F.col(id_col).asc())
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    keepers = (withb.withColumn("__cum", F.sum("__tok").over(w))
               .filter(F.col("__cum") <= blim)
               .select(F.col(id_col), F.col(key_col), F.col("__tok")))
    # each key keeps at most budget non-empty docs; the zero-token
    # tail is unbounded in theory but empty docs are curation input,
    # not corpus mass — keep the hint unless budgets alone overflow
    bcast = (budget_of is not None
             and sum(budget_of.values()) <= KEEPER_BROADCAST_ROWS)
    return base, keepers, bcast


def _flags_from_keepers(base: DataFrame, keepers: DataFrame, bcast: bool,
                        key_col: str, token_col: str,
                        id_col: str) -> DataFrame:
    """Join the keeper entities back onto ``base`` as the per-row
    ``kept`` flag — the output contract of :func:`sample_to_token_budget`."""
    k = keepers.select(F.col(id_col).alias("__kid"),
                       F.col(key_col).alias("__kkey"))
    if bcast:
        k = F.broadcast(k)
    cond = ((F.col(id_col) == F.col("__kid"))
            & F.col(key_col).eqNullSafe(F.col("__kkey")))
    return (base.join(k, cond, "left")
            .select(F.col(id_col), F.col(key_col), F.col(token_col),
                    F.col("__kid").isNotNull().alias("kept")))


def token_budget_sql(id_expr: str, key_expr: str, token_expr: str,
                     budgets: dict, salt: str,
                     table: str = "documents") -> str:
    """DuckDB twin of :func:`sample_to_token_budget`'s fill DECISION for
    a FIXED budget dict (embedded as VALUES): same portable hash order,
    same MAX-token duplicate collapse, same inclusive-prefix rule —
    exact integers end to end, zero tolerance. Emits
    ``(id, key, tokens, kept)`` one row per DISTINCT (id, key) — join it
    back to the raw rows when comparing a duplicate-bearing input."""
    def q(s: str) -> str:
        # SQL string literal with '' doubling — repr() would emit
        # double-quoted (identifier) syntax for values containing a
        # single quote
        return "'" + s.replace("'", "''") + "'"

    if budgets:
        b_rel = "(VALUES " + ", ".join(
            f"({'NULL' if k is None else q(str(k))}, {int(v)})"
            for k, v in sorted(budgets.items(),
                               key=lambda kv: (kv[0] is None,
                                               str(kv[0])))) + ")"
    else:
        # empty dict = every key has budget 0 (the engine path accepts
        # it); 'VALUES ' with no tuples is invalid SQL, so emit a typed
        # empty relation instead
        b_rel = ("(SELECT CAST(NULL AS VARCHAR) AS key, "
                 "CAST(0 AS BIGINT) AS budget WHERE FALSE)")
    hv = _hv_sql("id", q(salt)[1:-1] if "'" in salt else salt)
    return f"""
    WITH b(key, budget) AS {b_rel},
    r AS (
      SELECT {id_expr} AS id, {key_expr} AS key,
             MAX(GREATEST(CAST(COALESCE({token_expr}, 0) AS BIGINT), 0))
               AS tok
      FROM {table} WHERE {id_expr} IS NOT NULL GROUP BY 1, 2
    ), c AS (
      SELECT id, key, tok,
             SUM(tok) OVER (PARTITION BY key ORDER BY {hv} ASC, id ASC
                            ROWS UNBOUNDED PRECEDING) AS cum
      FROM r
    )
    SELECT c.id, c.key, c.tok AS tokens,
           c.cum <= COALESCE(b.budget, 0) AS kept
    FROM c LEFT JOIN b ON c.key IS NOT DISTINCT FROM b.key
    """


def incremental_token_budget_fill(batch: DataFrame,
                                  consumed: DataFrame | None,
                                  budgets: dict,
                                  key_col: str = "lang",
                                  token_col: str = "n_tokens",
                                  id_col: str = "doc_id",
                                  salt: str = "token-budget-42"
                                  ) -> tuple[DataFrame, DataFrame]:
    """Continuous-ingest form of :func:`sample_to_token_budget` — the
    mixture budget consumed ACROSS daily batches (the
    ``incremental_exact_dedup`` convention: ingest order is part of the
    semantics; a later batch's documents never displace earlier
    keepers, however good their hash rank). Returns ``(flags,
    new_consumed)``:

    - ``flags``: ``(id, key, tokens, kept)`` for every batch row — the
      batch fills each key's REMAINING budget (total budget minus mass
      already consumed by prior batches) in the portable hash order,
      under exactly :func:`sample_to_token_budget`'s contracts (clamp,
      NULL rules, MAX duplicate resolution, two-phase plan);
    - ``new_consumed``: the updated ``(key, consumed)`` state — prior
      consumption plus this batch's kept mass. Sources-sized (KB): the
      state is metadata, not corpus data — persist it like a codebook
      (parquet/JSON; readers of the flags output need no state).

    ``consumed`` is the previous state frame (``None`` for the first
    batch). Keys in the state but absent from ``budgets`` stay in the
    state untouched (budget 0 admits nothing more). Replay-idempotent:
    re-running a batch against the SAME state yields identical flags —
    only committing ``new_consumed`` advances the run. The per-batch
    DECISION is SQL-reproducible given the remaining-budget dict
    (:func:`token_budget_sql` — units hash-check each batch).

    Spent mass is aggregated over the KEEPER entities (one row per kept
    ``(id, key)`` at the MAX-resolved token) — exactly the mass the fill
    decision charged, so duplicate copies in a batch are counted once,
    and the pass is one keeper-sized agg instead of a rescan of the
    corpus-wide flags join; the
    pinned keeper frame then feeds the returned flags, so the batch
    pays the two-phase fill exactly once."""
    if any(b < 0 for b in budgets.values()):
        raise ValueError("incremental_token_budget_fill: negative budget")
    from ..caching import pin

    cons: dict = {}
    if consumed is not None:
        # sources-sized collect (the codebook convention)
        cons = {r[key_col]: int(r["consumed"])
                for r in consumed.select(key_col, "consumed").collect()}
    remaining = {k: max(int(b) - cons.get(k, 0), 0)
                 for k, b in budgets.items()}
    base, keepers, bcast = _fill_keepers(batch, remaining, key_col,
                                         token_col, id_col, salt)
    keepers = pin(keepers)
    spent = {r[key_col]: int(r["spent"]) for r in
             (keepers.groupBy(key_col)
              .agg(F.sum("__tok").alias("spent"))).collect()}
    flags = _flags_from_keepers(base, keepers, bcast, key_col, token_col,
                                id_col)
    merged = dict(cons)
    for k, v in spent.items():
        merged[k] = merged.get(k, 0) + v
    from pyspark.sql.types import LongType, StructField, StructType

    ktype = batch.schema[key_col].dataType
    new_consumed = batch.sparkSession.createDataFrame(
        sorted(((k, v) for k, v in merged.items()),
               key=lambda kv: (kv[0] is None, str(kv[0]))),
        StructType([StructField(key_col, ktype),
                    StructField("consumed", LongType())]))
    return flags, new_consumed

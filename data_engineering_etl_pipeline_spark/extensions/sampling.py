"""Deterministic quota-bounded balanced sampling over ANY key column —
the generic two-phase selection behind ``cluster_balanced_sample`` (one
operator, so domain caps, language caps, and cluster caps are the same
selection applied to different keys — the head-flattening step
every large-scale training-data pipeline runs, whether the head is a hot
topic cluster, a crawl-dominating domain, or an over-represented
language).

Determinism contract (the ``stratified_sample`` convention): the
within-key selection ranks by the engine's portable md5 hash of the id +
a salt — NOT arrival order, which would bias the sample toward early
files — so GIVEN the key assignment, the kept set is rerun-,
repartition-, and engine-stable, and a serial SQL engine reproduces it
exactly (``DENSE_RANK() OVER (PARTITION BY key ORDER BY hash, id)`` —
dense so duplicate ``(id, key)`` copies share one rank; see
:func:`quota_rank_sql`).

Plan contract (the scale point): the corpus NEVER feeds a
``Window.partitionBy(key)`` sort — that shape shuffles every row into
n_keys reducer partitions and fully sorts each group (a handful of
monster tasks at 100 TB when only ``quota`` rows per key matter).
Selection is two-phase: a map-only per-input-partition prune keeps the
``quota`` best rows per key (mapInPandas, bounded running top set, no
exchange), the global per-key rank runs over candidates only
(≤ quota·n_keys·P rows — the only sort), and the keeper ids join back as
a flag (broadcast when the bound quota·n_keys is known and small).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

#: keeper-set size past which the two-phase quota selection's flag join
#: stops hinting a broadcast (~4M ids ≈ 32 MB build side); unknown key
#: cardinality also skips the hint (AQE may still choose a broadcast at
#: runtime from the actual candidate size)
KEEPER_BROADCAST_ROWS = 4_000_000


def quota_rank_sql(id_expr: str, key_expr: str, salt: str) -> str:
    """DuckDB twin of :func:`balanced_sample_by_key`'s selection order —
    ``DENSE_RANK() OVER (PARTITION BY key ORDER BY md5-rank, id)`` with
    the engine's portable 32-bit md5 convention. ONE builder for every
    oracle and test (hand-maintained copies of the rank SQL drift; a
    change to the hv definition must update exactly one place).
    DENSE_RANK, not ROW_NUMBER: copies of
    one ``(id, key)`` share the ``(hv, id)`` order tuple and therefore
    one rank, while distinct ids always rank apart (ties break by id) —
    so ``rank <= quota`` admits exactly the engine's top-quota DISTINCT
    ids per key on duplicate-bearing inputs too; on unique inputs the two
    forms coincide. Equals the two-phase plan's kept set by the subset
    property over distinct ids."""
    return (f"DENSE_RANK() OVER (PARTITION BY {key_expr} ORDER BY "
            f"CAST('0x' || substr(md5(CAST({id_expr} AS VARCHAR) "
            f"|| '|{salt}'), 1, 8) AS UBIGINT) ASC, {id_expr} ASC)")


def _partition_local_quota_prune(ranked: DataFrame, quota: int,
                                 key_col: str, id_col: str) -> DataFrame:
    """Phase 1 of the two-phase quota selection:
    within each INPUT partition, keep only the ``quota`` best DISTINCT
    ids per key in the global ranking order (``__hv`` asc, ``id_col``
    asc) — one map-only Arrow pass carrying a bounded running top set, NO
    exchange. Lossless by the subset property over DISTINCT ids: any id
    in a key's GLOBAL top-quota distinct set is in the top-quota distinct
    set of every subset that contains a copy of it (in particular its own
    partition), so the surviving candidates — at most quota·n_keys per
    partition — are a superset of the true keeper set and the global
    dense rank over them equals the global dense rank over the corpus.

    Duplicate ``(id, key)`` copies are collapsed BEFORE the quota head
    (copies share one ``(__hv, id)`` rank, so keeping
    any one copy is lossless, and counting them against the quota would
    evict a distinct id that belongs in the global top-quota). The
    running state is ONE compacted frame filtered by a vectorized
    groupby-cumcount — not a per-key dict of DataFrames — so long-tail
    key distributions (most keys under quota) cost one frame of at most
    quota·n_keys rows, not n_keys pandas objects.
    Memory per task is bounded by one Arrow batch + that running frame,
    independent of partition size."""
    schema = ranked.schema

    def gen(batches):
        best: pd.DataFrame | None = None
        for pdf in batches:
            cat = (pdf if best is None
                   else pd.concat((best, pdf), ignore_index=True))
            cat = cat.sort_values(["__hv", id_col], kind="mergesort",
                                  ignore_index=True)
            cat = cat.drop_duplicates(subset=[key_col, id_col],
                                      ignore_index=True)
            within = cat.groupby(key_col, sort=False,
                                 dropna=False).cumcount()
            best = cat[within < quota]
        if best is not None and len(best):
            yield best

    return ranked.mapInPandas(gen, schema)


def balanced_sample_by_key(df: DataFrame, quota_per_key: int,
                           key_col: str, id_col: str,
                           salt: str = "key-balance-42",
                           n_keys_hint: int | None = None) -> DataFrame:
    """Flag at most ``quota_per_key`` DISTINCT ids per ``key_col`` value
    as ``kept`` — returns ``(id_col, key_col, kept)`` for EVERY input row
    (filter on ``kept`` or audit the flag). ``df`` must carry
    ``(id_col, key_col)``. ``(id, key)`` is the row identity: copies of
    one pair share one quota slot and one flag, an id under two keys is
    judged independently per key, and the keeper set is deduped before
    the flag join so the output NEVER has more rows than the input.
    NULL keys form their own group (a crawl record with
    no domain is still head-cappable).

    The selection order is the portable md5 of ``id_col`` + ``salt``
    (ties by id) — deterministic and engine-reproducible; see the module
    docstring for the two-phase plan contract. ``n_keys_hint`` bounds the
    keeper set (quota·n_keys) for the broadcast decision; callers that
    know the key cardinality (a codebook's k) should pass it."""
    if quota_per_key < 0:
        raise ValueError("balanced_sample_by_key: quota must be >= 0")
    base = df.select(id_col, key_col)
    if quota_per_key == 0:
        return base.withColumn("kept", F.lit(False))
    from ..caching import pin
    base = pin(base)
    hv = F.conv(F.substring(
        F.md5(F.concat(F.col(id_col).cast("string"), F.lit(f"|{salt}"))),
        1, 8), 16, 10).cast("long")
    cand = _partition_local_quota_prune(
        base.withColumn("__hv", hv), quota_per_key, key_col, id_col)
    # Duplicate-id hygiene: copies of one (id, key)
    # must not consume several quota slots or rank nondeterministically
    # between equal (hv, id) ties, and the keeper set must be UNIQUE per
    # (id, key) — a duplicated keeper would fan the flag join out and
    # return MORE rows than the input. The flag join matches BOTH columns
    # (null-safe on the key, so the NULL-key group's keepers still land):
    # an id appearing under two keys is kept independently per key, so
    # the quota counts distinct ids per key exactly. All copies of a kept
    # (id, key) share the flag. Dedup cost is candidate-sized.
    w = Window.partitionBy(key_col).orderBy(F.col("__hv").asc(),
                                            F.col(id_col).asc())
    # dense_rank, not row_number: copies of one (id, key) share a rank
    # (their (hv, id) order tuple is identical) while distinct ids always
    # rank apart (ties break by id) — so `rank <= quota` admits exactly
    # the top-quota DISTINCT ids per key at no extra exchange; the
    # keeper-sized dropDuplicates then collapses the admitted copies so
    # the flag join cannot fan out.
    keepers = (cand.withColumn("__rn", F.dense_rank().over(w))
               .filter(F.col("__rn") <= quota_per_key)
               .select(F.col(id_col).alias("__kid"),
                       F.col(key_col).alias("__kkey"))
               .dropDuplicates(["__kid", "__kkey"]))
    if (n_keys_hint is not None
            and quota_per_key * n_keys_hint <= KEEPER_BROADCAST_ROWS):
        keepers = F.broadcast(keepers)
    cond = ((F.col(id_col) == F.col("__kid"))
            & F.col(key_col).eqNullSafe(F.col("__kkey")))
    return (base.join(keepers, cond, "left")
            .select(F.col(id_col), F.col(key_col),
                    F.col("__kid").isNotNull().alias("kept")))

"""E2 end-to-end pipeline test (SURVEY.md §3 E2): the Spark chain's cells are
recomputed independently in pandas from the SAME deterministic fetcher — a
Python oracle where no SQL one can exist (the source is a connector, not a
table).
"""

from __future__ import annotations

import ast
import datetime
import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from data_engineering_etl_pipeline_spark.queries.pipeline import (
    CANONICAL_MAP, COINS, N_DAYS, UNIVERSE_N, market_history_pipeline)
from data_engineering_etl_pipeline_spark.sources import (_EPOCH_DAY0,
                                                         synthetic_fetch)


@pytest.fixture(scope="module")
def result(spark):
    return market_history_pipeline(spark, "unused").toPandas()


def _pandas_world() -> pd.DataFrame:
    rows = []
    for c in COINS:
        rows.extend(synthetic_fetch(c, _EPOCH_DAY0, N_DAYS))
    df = pd.DataFrame(rows, columns=["coin_id", "day", "price", "volume",
                                     "market_cap"])
    df["canonical_id"] = df["coin_id"].map(CANONICAL_MAP).fillna(df["coin_id"])
    df["month"] = df["day"].map(lambda d: d.replace(day=1))
    return df


def test_pipeline_shape_and_membership(result):
    assert set(result.columns) == {"canonical_id", "month", "day", "price",
                                   "volume", "n_members"}
    assert len(result) > 0
    # per month at most UNIVERSE_N canonical ids
    per_month = result.groupby("month")["canonical_id"].nunique()
    assert (per_month <= UNIVERSE_N).all()
    # PIT: no row may carry a day after its month cutoff
    assert (result["day"] <= result["month"]).all()
    # alt coins are always folded away
    assert not set(result["canonical_id"]) & set(CANONICAL_MAP)


def test_pipeline_cells_match_python_oracle(result):
    world = _pandas_world()

    # oracle universe: monthly top-N canonical ids by avg of daily MAX-member
    # mcap (duplicate listings of one asset must not double-weight it)
    daily = (world.groupby(["canonical_id", "day"], as_index=False)
             .agg(mcap=("market_cap", "max")))
    daily["month"] = daily["day"].map(lambda d: d.replace(day=1))
    monthly = (daily.groupby(["month", "canonical_id"], as_index=False)
               .agg(agg_value=("mcap", "mean")))
    monthly["agg_value"] = monthly["agg_value"].round(4)
    monthly["rank"] = (monthly.sort_values(
        ["month", "agg_value", "canonical_id"],
        ascending=[True, False, True])
        .groupby("month").cumcount() + 1)
    top = monthly[monthly["rank"] <= UNIVERSE_N][["month", "canonical_id"]]
    # PIT: a month survives only if any member data exists up to its cutoff
    # (the first calendar month's 1st precedes all data, so it drops)
    top = top[top["month"] > world["day"].min()]

    got_members = set(map(tuple, result[["month", "canonical_id"]]
                          .drop_duplicates().itertuples(index=False)))
    want_members = set(map(tuple, top.itertuples(index=False)))
    assert got_members == want_members

    # canonical btc on a specific day inside a member month: volume sums
    # btc + btc_alt; price comes from the native (btc) member
    some = result[(result["canonical_id"] == "btc")].iloc[0]
    day = some["day"]
    w = world[(world["canonical_id"] == "btc") & (world["day"] == day)]
    assert some["volume"] == pytest.approx(round(w["volume"].sum(), 2))
    native_price = w.loc[w["coin_id"] == "btc", "price"].iloc[0]
    assert some["price"] == pytest.approx(round(native_price, 6))
    assert some["n_members"] == len(w)


def test_pipeline_n_members_counts_alt_coins(result):
    # btc/eth have an alt member (2), sol/ada/dot/link do not (1)
    mx = result.groupby("canonical_id")["n_members"].max().to_dict()
    for cid, n in mx.items():
        assert n == (2 if cid in {"btc", "eth"} else 1)


def test_registry_within_driver_check_budget():
    """The round driver verifies at most the FIRST 50 registered queries
    (entries past the cap silently lose driver verification).
    Pin the budget, and pin that the oracle keys are a subset of queries."""
    from data_engineering_etl_pipeline_spark.queries import ORACLES, QUERIES

    assert len(QUERIES) <= 50, (
        f"{len(QUERIES)} registered queries exceed the driver's 50-entry "
        "check budget — curate the registry (consolidate or retire rows)")
    assert set(ORACLES) <= set(QUERIES)


def test_readme_counts_match_registry():
    """README's registered/oracle counts are pinned to the registry so docs
    cannot drift from code."""
    import os
    import re

    from data_engineering_etl_pipeline_spark.queries import ORACLES, QUERIES

    readme = open(os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "README.md")).read()
    m = re.search(r"(\d+) registered queries", readme)
    assert m and int(m.group(1)) == len(QUERIES)
    m = re.search(r"(\d+) of the (\d+)\s+registered queries have oracles", readme)
    assert m, "README oracle-count sentence missing"
    assert int(m.group(1)) == len(ORACLES)
    assert int(m.group(2)) == len(QUERIES)


def test_bench_calibration_stability_flag():
    """A BENCH record captured under a drifting host (e.g. sentinel 1.625s
    -> 0.459s, 3.5x intra-run) must carry calibration_unstable + re-run
    guidance; a stable record carries only the ratio. Symmetric in drift
    direction; a zero sentinel (clock glitch) flags rather than dividing by
    zero."""
    import bench

    stable = bench.calibration_stability(1.0, 1.1)
    assert stable == {"calibration_ratio": 1.1}
    drifted = bench.calibration_stability(1.625, 0.459)
    assert drifted["calibration_unstable"] is True
    assert drifted["calibration_ratio"] == round(1.625 / 0.459, 3)
    assert "re-run" in drifted["calibration_note"]
    assert bench.calibration_stability(0.459, 1.625)[
        "calibration_unstable"] is True
    assert bench.calibration_stability(0.0, 1.0)[
        "calibration_unstable"] is True
    # boundary: exactly the threshold (1.25) is still stable, so a 1.294
    # drift flags
    assert "calibration_unstable" not in bench.calibration_stability(
        1.25, 1.0)
    assert bench.calibration_stability(0.749, 0.579)[
        "calibration_unstable"] is True
    # multi-point form: a mid-run storm the endpoints straddle must flag
    # (a row can inflate 2.6x under an endpoint ratio of 1.06), and an
    # all-quiet path must not
    mid = bench.calibration_stability(0.5, 0.52, 1.9, 0.51)
    assert mid["calibration_unstable"] is True
    assert "1.9s" in mid["calibration_note"]
    assert "calibration_unstable" not in bench.calibration_stability(
        0.5, 0.52, 0.55, 0.51)


def test_bench_and_smoke_names_exist_in_registry():
    """bench.py and scale_smoke.py run registry queries by name; a registry
    consolidation that renames a row must update them or the driver's
    per-round bench crashes with a KeyError (retired names surviving in
    bench.py did exactly that)."""
    import os
    import re

    from data_engineering_etl_pipeline_spark.queries import QUERIES

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    import bench
    missing = [n for n in bench.BENCH_QUERIES + bench.TAIL_QUERIES
               if n not in QUERIES]
    assert not missing, f"bench.py references unknown queries: {missing}"

    src = open(os.path.join(root, "scripts", "scale_smoke.py")).read()
    # every string inside a `queries = [...]` literal must resolve
    for block in re.findall(r"queries\s*=\s*\[([^\]]+)\]", src):
        names = re.findall(r'"([a-z0-9_]+)"', block)
        assert names, "scale_smoke queries list went empty/unparseable"
        missing = [n for n in names if n not in QUERIES]
        assert not missing, (
            f"scale_smoke.py references unknown queries: {missing}")


_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_PKG = "data_engineering_etl_pipeline_spark"


def _walk(top):
    for d, _, files in os.walk(os.path.join(_ROOT, top)):
        yield from (os.path.join(d, f) for f in files if f.endswith(".py"))


def _dotted(path):
    rel = os.path.relpath(path, _ROOT)[:-3].replace(os.sep, ".")
    return rel[:-len(".__init__")] if rel.endswith(".__init__") else rel


def _parse(path):
    with open(path) as f:
        return ast.parse(f.read(), path)


def test_every_package_module_has_an_importer():
    """Code stays only if something calls it: every package module other
    than an ``__init__`` must be imported by another package module, by
    ``__spark_entry__.py`` or by ``perfbench/``. A module that only its
    own tests import is dead weight. Parsed with ``ast``, so imports
    inside functions count and nothing is executed."""
    def imported_names(path):
        """Dotted names one file imports, relative imports resolved; for
        ``from X import y`` both ``X`` and ``X.y`` (y may be a module)."""
        me = _dotted(path)
        here = me if path.endswith("__init__.py") else me.rpartition(".")[0]
        out = set()
        for node in ast.walk(_parse(path)):
            if isinstance(node, ast.Import):
                out.update(a.name for a in node.names)
            elif isinstance(node, ast.ImportFrom):
                base = node.module or ""
                if node.level:
                    parts = here.split(".")
                    up = ".".join(parts[:len(parts) - node.level + 1])
                    base = f"{up}.{base}" if base else up
                out.add(base)
                out.update(f"{base}.{a.name}" for a in node.names)
        return out

    modules = {_dotted(p): p for p in _walk(_PKG)
               if not p.endswith("__init__.py")}
    importers = list(_walk(_PKG)) + list(_walk("perfbench")) + [
        os.path.join(_ROOT, "__spark_entry__.py")]
    seen = set()
    for path in importers:
        me = _dotted(path)
        seen.update(n for n in imported_names(path) if n != me)
    orphans = sorted(set(modules) - seen)
    assert not orphans, (
        f"package modules nothing imports (delete them or call them): "
        f"{orphans}")


#: Package functions no root reaches that stay on purpose, one reason each.
KEEP = {
    # the live refresh and its failure path (reaches write_daily_snapshot,
    # snapshot_exists and engine_pin_scope)
    "refresh_world_snapshot": "live pipeline: daily world re-snapshot",
    "with_retry": "live pipeline: the fetcher's 429 retry/backoff",
    "TwoTierCache": "the reference's DataPersistenceLayer",
    "read_market_api": ("S4 paginated-API scan; tier-1 cross-checks it "
                        "against fetch_history_distributed"),
    # references that tests compare live code against
    "_ta_one_asset": "pandas reference for ta._ta_partition",
    "epoch_plan_sql": "DuckDB twin of corpus.epoch_plan",
    "rolling_fingerprint": "expression twin of rolling_fingerprint_udf",
    "top_ngram_fraction": "expression twin of top_ngram_fraction_udf",
    "apply_pca": "BLAS reference project_fold is checked against",
    # the train half of live predict paths
    "fit_logreg_exact": "trains the model logreg_gate_fold applies",
    "fit_lang_id": "trains the model predict_lang_trained applies",
    "fit_tfidf_idf": "fits the frozen idf hashed_tfidf_vectors accepts",
    "fit_pca_exact": "fits the model project_fold applies",
    # drive live operators as streams in tests/test_streaming.py
    "stream_events": "streaming source for the live operators",
    "run_stream_to_memory": "streaming sink for the live operators",
}


def test_every_package_function_is_reachable():
    """Code stays only if something calls it, per function: every
    top-level def or class in the package must be reachable from a root —
    a ``@register`` row, package module-level code, ``__spark_entry__.py``,
    ``bench.py``, ``perfbench/`` (not its tests) — or be named in ``KEEP``
    with a reason. The closure is name-based (``ast.Name``,
    ``ast.Attribute`` and in-function ``from ... import`` names), so it
    over-approximates what is reachable: anything it flags cannot be
    called from a root."""
    def names_in(node):
        out = set()
        for n in ast.walk(node):
            if isinstance(n, ast.Name):
                out.add(n.id)
            elif isinstance(n, ast.Attribute):
                out.add(n.attr)
            elif isinstance(n, ast.ImportFrom):
                out.update(a.name for a in n.names)
        return out

    defs, roots = {}, set(KEEP)
    for path in _walk(_PKG):
        for stmt in _parse(path).body:
            if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef,
                                 ast.ClassDef)):
                defs.setdefault(stmt.name, []).append((_dotted(path), stmt))
                for dec in stmt.decorator_list:
                    roots |= names_in(dec)
                    if (isinstance(dec, ast.Call)
                            and getattr(dec.func, "id", None) == "register"):
                        roots.add(stmt.name)
            elif not isinstance(stmt, (ast.Import, ast.ImportFrom)):
                roots |= names_in(stmt)
    entry_points = [os.path.join(_ROOT, "__spark_entry__.py"),
                    os.path.join(_ROOT, "bench.py")] + [
        p for p in _walk("perfbench")
        if os.sep + "tests" + os.sep not in p]
    for path in entry_points:
        roots |= names_in(_parse(path))

    missing = sorted(set(KEEP) - set(defs))
    assert not missing, f"KEEP names no top-level def: {missing}"
    seen, todo = set(), [n for n in roots if n in defs]
    while todo:
        name = todo.pop()
        if name in seen:
            continue
        seen.add(name)
        for _, node in defs[name]:
            todo.extend(n for n in names_in(node) if n in defs)
    dead = sorted(f"{mod}.{name}" for name, where in defs.items()
                  if name not in seen for mod, _ in where)
    assert not dead, (
        f"{len(dead)} package functions no registry row, pipeline or "
        f"workload reaches (delete them, call them, or KEEP them with a "
        f"reason): {dead}")

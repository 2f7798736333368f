"""Seeded input generators for the two workloads.

Every input is a pure function of ``(seed, size)``: the same seed writes
byte-identical files, a different seed different ones. Generation runs in
the orchestrator before the engine process starts, so it is outside every
timed region. The engine receives only these files and the live fetcher.

- ``make_market``  Bronze OHLCV parquet. Alias listings fold into canonical
  ids (Zipf-skewed: a few ids carry most aliases) and a planted share of
  rows break the OHLC invariant, below the quality gate's 5 % breaker.
- ``make_corpus``  multi-line web pages (boilerplate lines, PII strings,
  heavy-tailed lengths) with planted exact duplicates.

Sizes are set by the time budget of one run (see README.md, "Sizing").
"""

from __future__ import annotations

import datetime
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --- market_lakehouse ------------------------------------------------------

MARKET_SIZE = {"n_canonical": 16, "n_alias": 24, "n_days": 240}
VIOLATION_SHARE = 0.02
MARKET_DAY0 = datetime.date(2023, 1, 1)
# OHLC tolerance used by relational.ohlc_violation; planted breaks clear it
# by orders of magnitude, genuine rows never come near it.
_OHLC_TOL = 1e-6


def _q(x: np.ndarray, digits: int) -> np.ndarray:
    """Floor-quantize so every engine reads back the same decimal value."""
    p = 10.0 ** digits
    return np.floor(x * p) / p


def _write(table: pa.Table, path: str) -> int:
    pq.write_table(table, path, compression="snappy")
    return os.path.getsize(path)


def make_market(out_dir: str, seed: int, n_canonical: int = 60,
                n_alias: int = 90, n_days: int = 365) -> dict:
    """Write ``bronze.parquet`` and ``canonical_map.json``; return a manifest
    with the planted counts."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    canon = [f"c{i:03d}" for i in range(n_canonical)]
    # Zipf-skewed alias ownership: canonical i owns aliases with p ~ 1/(i+1)^1.3
    weights = 1.0 / np.arange(1, n_canonical + 1) ** 1.3
    owners = rng.choice(n_canonical, size=n_alias, p=weights / weights.sum())
    listings = [(c, c) for c in canon]
    counter: dict[int, int] = {}
    for o in owners:
        k = counter.get(int(o), 0)
        counter[int(o)] = k + 1
        listings.append((f"{canon[o]}_x{k}", canon[o]))
    cmap = {lid: cid for lid, cid in listings if lid != cid}

    # one price path per canonical id; aliases quote it with a small basis
    base = np.exp(rng.uniform(np.log(2.0), np.log(5000.0), n_canonical))
    rets = rng.normal(0.0, 0.03, (n_canonical, n_days))
    path = base[:, None] * np.exp(np.cumsum(rets, axis=1))
    supply = np.exp(rng.uniform(np.log(1e6), np.log(1e9), n_canonical))

    cols: dict[str, list] = {k: [] for k in ("coin_id", "day", "open", "high",
                                             "low", "close", "volume",
                                             "market_cap")}
    days = [MARKET_DAY0 + datetime.timedelta(days=d) for d in range(n_days)]
    for lid, cid in listings:
        ci = canon.index(cid)
        native = lid == cid
        basis = 1.0 if native else rng.uniform(0.97, 1.03)
        close = np.maximum(_q(path[ci] * basis, 6), 1.0)
        open_ = np.maximum(_q(np.concatenate([[close[0]], close[:-1]])
                              * rng.uniform(0.99, 1.01, n_days), 6), 1.0)
        hi = _q(np.maximum(open_, close) * (1 + rng.uniform(0, 0.02, n_days)), 6)
        hi = np.maximum(hi, np.maximum(open_, close))
        lo = _q(np.minimum(open_, close) * (1 - rng.uniform(0, 0.02, n_days)), 6)
        lo = np.minimum(lo, np.minimum(open_, close))
        share = 1.0 if native else rng.uniform(0.01, 0.4)
        mcap = _q(close * supply[ci] * share, 2)
        vol = _q(rng.lognormal(13.0, 1.0, n_days) * share, 2)
        cols["coin_id"] += [lid] * n_days
        cols["day"] += days
        cols["open"].append(open_)
        cols["high"].append(hi)
        cols["low"].append(lo)
        cols["close"].append(close)
        cols["volume"].append(vol)
        cols["market_cap"].append(mcap)
    arrays = {k: (np.concatenate(v) if k not in ("coin_id", "day") else v)
              for k, v in cols.items()}
    n_rows = len(arrays["coin_id"])
    n_bad = int(round(VIOLATION_SHARE * n_rows))
    bad = rng.choice(n_rows, size=n_bad, replace=False)
    # planted violation: close far above high (data-entry style break)
    arrays["close"][bad] = _q(arrays["high"][bad] * 1.05 + 0.01, 6)
    table = pa.table({
        "coin_id": pa.array(arrays["coin_id"], pa.string()),
        "day": pa.array(arrays["day"], pa.date32()),
        **{k: pa.array(arrays[k], pa.float64())
           for k in ("open", "high", "low", "close", "volume", "market_cap")},
    })
    nbytes = _write(table, os.path.join(out_dir, "bronze.parquet"))
    with open(os.path.join(out_dir, "canonical_map.json"), "w") as f:
        json.dump(cmap, f, sort_keys=True)
    return {"rows": n_rows, "violations": n_bad, "bytes": nbytes,
            "listings": len(listings), "aliases": len(cmap)}


# --- corpus_prep -----------------------------------------------------------

CORPUS_SIZE = {"n_docs": 800}
EXACT_DUP_SHARE = 0.10

_BOILERPLATE = [
    "Please enable JavaScript to view the comments.",
    "Home | About | Contact | Privacy",
    "Share this article",
    "Copyright 2024 all rights reserved",
    "Click here",
]
_SYLLABLES = ["ka", "lo", "mi", "ne", "ru", "sa", "to", "vi", "de", "po",
              "an", "el", "is", "or", "um", "ba", "ce", "fo", "gi", "ha"]


def _vocab(rng: np.random.Generator, n: int = 3000) -> list[str]:
    out: set[str] = set()
    while len(out) < n:
        k = int(rng.integers(2, 5))
        out.add("".join(rng.choice(_SYLLABLES, size=k)))
    return sorted(out)


def _sentence(rng: np.random.Generator, vocab: list[str],
              probs: np.ndarray) -> str:
    n = int(rng.integers(6, 16))
    words = list(rng.choice(len(vocab), size=n, p=probs))
    text = " ".join(vocab[w] for w in words)
    return text[0].upper() + text[1:] + str(rng.choice([".", ".", ".", "!", "?"]))


def _pii_sentence(rng: np.random.Generator, vocab: list[str], i: int) -> str:
    kind = int(rng.integers(0, 5))
    name = vocab[int(rng.integers(len(vocab)))]
    if kind == 0:
        pii = f"{name}{i}@example.org"
    elif kind == 1:
        pii = f"{rng.integers(200, 999)}-{rng.integers(200, 999)}-{rng.integers(1000, 9999)}"
    elif kind == 2:
        pii = f"10.{rng.integers(0, 255)}.{rng.integers(0, 255)}.{rng.integers(1, 255)}"
    elif kind == 3:
        pii = f"{rng.integers(100, 999)}-{rng.integers(10, 99)}-{rng.integers(1000, 9999)}"
    else:
        pii = " ".join(str(rng.integers(1000, 9999)) for _ in range(4))
    return f"Contact the {name} desk at {pii} for more details today."


def _page(rng: np.random.Generator, vocab: list[str], probs: np.ndarray,
          i: int) -> str:
    # heavy-tailed line count: most pages are short, a few are very long
    n_lines = int(min(60, 2 + rng.pareto(1.3) * 4))
    lines = [_sentence(rng, vocab, probs) for _ in range(n_lines)]
    for b in rng.choice(len(_BOILERPLATE), size=int(rng.integers(1, 4))):
        lines.insert(int(rng.integers(0, len(lines) + 1)), _BOILERPLATE[b])
    if rng.random() < 0.3:
        lines.insert(int(rng.integers(0, len(lines) + 1)),
                     _pii_sentence(rng, vocab, i))
    u = rng.random()
    if u < 0.03:
        lines.append("It uses lorem ipsum placeholder text.")
    elif u < 0.05:
        lines.append("function f() { return 1; }")
    return "\n".join(lines)


def make_corpus(out_dir: str, seed: int, n_docs: int = 1200) -> dict:
    """Write ``docs.parquet`` (doc_id, text)."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 2])
    vocab = _vocab(rng)
    ranks = np.arange(1, len(vocab) + 1)
    probs = 1.0 / ranks ** 1.05
    probs /= probs.sum()

    n_exact = int(round(EXACT_DUP_SHARE * n_docs))
    n_base = n_docs - n_exact
    texts = [_page(rng, vocab, probs, i) for i in range(n_base)]
    texts += [texts[k] for k in rng.choice(n_base, size=n_exact, replace=True)]
    ids = rng.permutation(np.arange(1, n_docs + 1) * 7 + 1000).astype(np.int64)

    b_docs = _write(pa.table({"doc_id": pa.array(ids, pa.int64()),
                              "text": pa.array(texts, pa.string())}),
                    os.path.join(out_dir, "docs.parquet"))
    return {"rows": n_docs, "bytes": b_docs, "exact_dups": n_exact}

"""URL/domain-level curation (the web-crawl half of the §2.11
training-data pipeline): URL canonicalization, registered-domain
extraction, URL-keyed exact dedup, per-domain document caps, and domain
blocklist filtering — the standard pre-text curation steps of the public
web-corpus recipes (C4 strips by URL blocklist; RefinedWeb/Dolma dedup by
canonical URL and cap crawl-dominating domains before any content pass,
because a head domain can be 1%+ of raw crawl rows).

All column functions are PURE Spark expressions — map-only at any corpus
scale, no Python, no shuffle — and each has a DuckDB SQL twin
(``*_sql``) built from the SAME pattern constants (the ``scrub_pii_sql``
convention), so the constructions are hash-checkable cross-engine even
though the family lives outside the 50-row driver registry
(tests/test_weburl.py carries the full value units).

Scale shapes:
- canonicalize/extract: map-only expressions;
- ``url_dedup_keep_first``: ONE hash agg keyed on the canonical URL's
  (md5, length) fingerprint — never the raw URL (the exact-text-dedup
  convention: bounded-width shuffle keys);
- ``domain_balanced_sample``: the generic two-phase quota selection
  (``sampling.balanced_sample_by_key``) — the corpus never feeds a
  partitionBy(domain) sort;
- ``filter_blocklisted``: broadcast LEFT ANTI join (blocklists are
  MB-scale; the corpus streams map-side).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: query parameters stripped by canonicalization — session/campaign
#: tracking noise that multiplies otherwise-identical URLs (the public
#: crawler-dedup convention; extend per deployment)
TRACKING_PARAMS = (
    "utm_source", "utm_medium", "utm_campaign", "utm_term", "utm_content",
    "gclid", "fbclid", "msclkid", "ref", "referrer",
)

#: second-level labels under which the registered domain keeps THREE
#: labels (the co.uk/com.au class). A deliberate heuristic subset of the
#: public-suffix list — the full PSL is a data file a deployment mounts;
#: the operator's shape (label arithmetic on a split host) is identical.
_SECOND_LEVEL_TLDS = ("co", "com", "net", "org", "gov", "ac", "edu")

_SCHEME_RE = r"^([A-Za-z][A-Za-z0-9+.-]*)://"
_HOST_RE = r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)"
_PATH_RE = r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)"
#: anchored to the PRE-fragment region: a bare r"\?..." would match a '?'
#: inside the fragment and resurrect fragment content as the query
#: ('https://ex.com/a#x?b=1' must canonicalize like '/a', not '/a?b=1')
#: — a shared constant so the DuckDB twin agrees
_QUERY_RE = r"^[^#]*?\?([^#]*)"


def _c(col: str | Column) -> Column:
    return F.col(col) if isinstance(col, str) else col


def url_parts(url: str | Column) -> tuple[Column, Column, Column, Column]:
    """(scheme, host:port, path, query) — regexp_extract quadruple, each
    '' when absent (Spark's no-match convention). Fragment is excluded by
    construction (every class stops at '#')."""
    u = F.trim(_c(url))
    return (F.lower(F.regexp_extract(u, _SCHEME_RE, 1)),
            F.lower(F.regexp_extract(u, _HOST_RE, 1)),
            F.regexp_extract(u, _PATH_RE, 1),
            F.regexp_extract(u, _QUERY_RE, 1))


def canonicalize_url(url: str | Column) -> Column:
    """Canonical URL as one map-only expression: lowercase scheme+host,
    strip ``www.``, strip the scheme's default port (:80 http / :443
    https), drop the fragment, drop tracking query params
    (``TRACKING_PARAMS``), SORT the surviving params (param order is
    transport noise), and strip a trailing path slash. NULL in → NULL
    out; a URL with no ``scheme://`` is returned trimmed as-is (opaque —
    refusing to guess is the conservative dedup choice: un-parsed
    variants stay distinct rather than collapsing wrongly)."""
    u = F.trim(_c(url))
    scheme, hostport, path, query = url_parts(url)
    host = F.regexp_replace(hostport, r"^www\.", "")
    host = F.when(scheme == "http",
                  F.regexp_replace(host, r":80$", "")) \
            .when(scheme == "https",
                  F.regexp_replace(host, r":443$", "")) \
            .otherwise(host)
    params = F.filter(
        F.split(query, "&"),
        lambda p: (p != "") & ~F.lower(F.substring_index(p, "=", 1))
        .isin(*TRACKING_PARAMS))
    q = F.array_join(F.array_sort(params), "&")
    path_c = F.regexp_replace(path, r"/+$", "")
    rebuilt = F.concat(scheme, F.lit("://"), host, path_c,
                       F.when(q != "", F.concat(F.lit("?"), q))
                       .otherwise(F.lit("")))
    return F.when(u.isNull(), F.lit(None).cast("string")) \
            .when(scheme == "", u).otherwise(rebuilt)


def canonicalize_url_sql(expr: str) -> str:
    """DuckDB twin of :func:`canonicalize_url` — same regex constants,
    same branch order, for the cross-engine value units."""
    tp = ", ".join(f"'{t}'" for t in TRACKING_PARAMS)
    u = f"trim({expr})"
    scheme = f"lower(regexp_extract({u}, '{_SCHEME_RE}', 1))"
    hostport = f"lower(regexp_extract({u}, '{_HOST_RE}', 1))"
    path = f"regexp_extract({u}, '{_PATH_RE}', 1)"
    query = f"regexp_extract({u}, '{_QUERY_RE}', 1)"
    host0 = f"regexp_replace({hostport}, '^www\\.', '')"
    host = (f"CASE WHEN {scheme} = 'http' "
            f"THEN regexp_replace({host0}, ':80$', '') "
            f"WHEN {scheme} = 'https' "
            f"THEN regexp_replace({host0}, ':443$', '') "
            f"ELSE {host0} END")
    params = (f"list_sort(list_filter(string_split({query}, '&'), "
              f"p -> p <> '' AND NOT list_contains([{tp}], "
              f"lower(string_split(p, '=')[1]))))")
    q = f"array_to_string({params}, '&')"
    path_c = f"regexp_replace({path}, '/+$', '')"
    rebuilt = (f"{scheme} || '://' || {host} || {path_c} || "
               f"CASE WHEN {q} <> '' THEN '?' || {q} ELSE '' END")
    return (f"CASE WHEN {expr} IS NULL THEN NULL "
            f"WHEN {scheme} = '' THEN {u} ELSE {rebuilt} END")


def extract_host(url: str | Column) -> Column:
    """Lowercased host without port or ``www.`` — '' when the URL has no
    ``scheme://`` part."""
    _, hostport, _, _ = url_parts(url)
    return F.regexp_replace(F.regexp_replace(hostport, r":\d+$", ""),
                            r"^www\.", "")


def registered_domain(url: str | Column) -> Column:
    """Registered-domain heuristic over a URL: the last two host labels,
    or the last THREE when the second-to-last is a ``_SECOND_LEVEL_TLDS``
    member and the TLD is a 2-letter ccTLD (the co.uk/com.au class). A
    documented heuristic — the exact boundary needs the public-suffix
    list, which is deployment data, not engine logic. '' host → ''."""
    return registered_domain_from_host(extract_host(url))


def registered_domain_from_host(host: Column) -> Column:
    """:func:`registered_domain`'s label arithmetic over a bare HOST
    column (already lowercased, no scheme/port) — the form blocklist
    entries come in."""
    labels = F.split(host, r"\.")
    n = F.size(labels)
    last = F.element_at(labels, -1)
    second = F.element_at(labels, -2)
    take3 = ((n >= 3) & F.lower(second).isin(*_SECOND_LEVEL_TLDS)
             & (F.length(last) == 2))
    return (F.when(host == "", host)
            .when(n <= 2, host)
            .when(take3, F.array_join(F.slice(labels, -3, 3), "."))
            .otherwise(F.array_join(F.slice(labels, -2, 2), ".")))


def host_sql(expr: str) -> str:
    """DuckDB twin of :func:`extract_host`."""
    hostport = f"lower(regexp_extract(trim({expr}), '{_HOST_RE}', 1))"
    return (f"regexp_replace(regexp_replace({hostport}, ':[0-9]+$', ''), "
            f"'^www\\.', '')")


def registered_domain_from_host_sql(h: str) -> str:
    """DuckDB twin of :func:`registered_domain` over a HOST expression
    ``h`` (callers compute the host once in a CTE — the expression is
    referenced several times per branch)."""
    tlds = ", ".join(f"'{t}'" for t in _SECOND_LEVEL_TLDS)
    return f"""CASE
        WHEN {h} = '' THEN {h}
        WHEN len(string_split({h}, '.')) <= 2 THEN {h}
        WHEN len(string_split({h}, '.')) >= 3
             AND list_contains([{tlds}],
                   lower(string_split({h}, '.')[-2]))
             AND length(string_split({h}, '.')[-1]) = 2
        THEN array_to_string(string_split({h}, '.')[-3:], '.')
        ELSE array_to_string(string_split({h}, '.')[-2:], '.')
      END"""


def with_registered_domain_psl(docs: DataFrame, suffixes: DataFrame,
                               url_col: str = "url",
                               out_col: str = "domain",
                               suffix_col: str = "suffix",
                               host_col: str | None = None,
                               max_suffix_labels: int = 4) -> DataFrame:
    """Registered domain backed by a CALLER-SUPPLIED public-suffix table:
    ``docs`` plus an ``out_col`` column holding the
    PSL registered domain of each row's URL (or bare ``host_col`` when
    given). ``suffixes`` is a one-column DataFrame of suffixes — the
    public-suffix list is deployment DATA (a file you mount and refresh),
    not engine logic, so the engine takes it as a relation: ICANN +
    private suffixes alike (``github.io``-class entries Just Work). The
    no-data default remains the :func:`registered_domain` heuristic.

    Semantics (the full publicsuffix.org algorithm): the registered
    domain is the prevailing rule's public suffix plus ONE more host
    label; a host that IS a public suffix exactly has no registrable
    part → ``''`` (the '' host convention); a host whose TLD is unlisted
    falls back to the implicit ``*`` rule (TLD = the suffix → registered
    = last two labels). Rule classes (so the real PSL file loads as-is):

    - plain rows match their exact label suffix;
    - WILDCARD rows (``*.ck``, stored as parent ``ck`` with
      kind='wildcard') make every DIRECT child of the parent a public
      suffix (match depth = parent labels + 1); the parent itself is
      not a wildcard match (hosts at the parent depth fall through to
      whatever else matches, usually the implicit ``*``);
    - EXCEPTION rows (``!www.ck``, stored as ``www.ck`` with
      kind='exception') PREVAIL over every other match: the public
      suffix is the exception minus its leftmost label, so the
      exception host itself is the registered domain.

    ``suffixes`` may carry an optional ``kind`` column
    ('rule'|'wildcard'|'exception' — :func:`load_suffix_rows` emits it);
    without one, every row is a plain rule. The
    table is ``.distinct()``-ed after normalization: duplicate entries
    (easy to produce unioning ICANN+private lists) would otherwise fan
    out every matching corpus row through the left joins — silent row
    inflation.

    Plan shape — map-only at any corpus scale: candidate suffixes of
    depth 1..``max_suffix_labels`` are sliced from the host labels
    (pure expressions, no explode), and each (depth, rule class) is
    matched by its own BROADCAST left join against the suffix table
    (MB-scale by nature) — at most 3K broadcast hash joins, ZERO corpus
    shuffles (an explode + groupBy longest-match would re-shuffle the
    corpus by id). Entries deeper than ``max_suffix_labels`` labels
    (wildcard parents: ``max_suffix_labels − 1``) are IGNORED — they
    can never match a candidate slice (there is no truncated matching);
    :func:`load_suffix_rows` refuses them loudly so a mounted PSL file
    either fits the cap or tells you to raise it."""
    host = (F.lower(F.trim(F.col(host_col))) if host_col is not None
            else extract_host(url_col))
    labels = F.split(host, r"\.")
    n = F.size(labels)
    kind = (F.lower(F.trim(F.col("kind"))) if "kind" in suffixes.columns
            else F.lit("rule"))
    sfx = (suffixes.select(F.lower(F.trim(F.col(suffix_col))).alias("__s"),
                           kind.alias("__kind"))
           .filter(F.size(F.split(F.col("__s"), r"\."))
                   <= max_suffix_labels)
           .distinct())
    plain = sfx.filter(F.col("__kind") == "rule").select("__s")
    wild = sfx.filter(F.col("__kind") == "wildcard").select("__s")
    exc = sfx.filter(F.col("__kind") == "exception").select("__s")
    out = docs.withColumn("__labels", labels).withColumn("__n", n)
    for k in range(1, max_suffix_labels + 1):
        cand = F.when(F.col("__n") >= k,
                      F.array_join(F.slice(F.col("__labels"), -k, k), "."))
        out = out.withColumn(f"__c{k}", cand)
    flags: list[str] = []

    def _flag(base: DataFrame, cand_col: str, flag: str) -> None:
        nonlocal out
        flags.append(flag)
        out = out.join(
            F.broadcast(base.select(F.col("__s").alias(cand_col),
                                    F.lit(True).alias(flag))),
            cand_col, "left")

    for k in range(1, max_suffix_labels + 1):
        _flag(plain, f"__c{k}", f"__m{k}")
        if k >= 2:
            # wildcard *.P (parent P at depth k-1) makes the k-label
            # slice a public suffix — the parent slice IS candidate c{k-1}
            _flag(wild, f"__c{k - 1}", f"__w{k}")
        _flag(exc, f"__c{k}", f"__e{k}")
    # longest match wins (ascending overwrite); unlisted TLD -> implicit
    # '*' (depth 1); exceptions prevail over EVERY other match, public
    # suffix = exception minus its leftmost label (depth k-1)
    klen = F.lit(1)
    for k in range(1, max_suffix_labels + 1):
        m = F.col(f"__m{k}")
        if k >= 2:
            # the n >= k guard matters only for wildcards: a plain match
            # at depth k implies n >= k (the candidate slice is NULL
            # otherwise), but the wildcard joins on the PARENT slice
            # c{k-1}, which exists at n == k-1 too — and per the PSL
            # algorithm a wildcard rule only matches hosts with at least
            # as many labels as the rule (* must consume one), so a host
            # that IS the wildcard parent falls through to whatever else
            # matches (usually the implicit '*')
            m = m | (F.col(f"__w{k}") & (F.col("__n") >= k))
        klen = F.when(m, F.lit(k)).otherwise(klen)
    for k in range(1, max_suffix_labels + 1):
        klen = F.when(F.col(f"__e{k}"), F.lit(k - 1)).otherwise(klen)
    reg = (F.when(host.isNull(), F.lit(None).cast("string"))
           .when(host == "", F.lit(""))
           .when(F.col("__n") <= klen, F.lit(""))  # host IS a suffix
           .otherwise(F.array_join(
               F.slice(F.col("__labels"), -(klen + F.lit(1)),
                       klen + F.lit(1)), ".")))
    drop = (["__labels", "__n"]
            + [f"__c{k}" for k in range(1, max_suffix_labels + 1)] + flags)
    return out.withColumn(out_col, reg).drop(*drop)


def registered_domain_psl_sql(h: str, rules, max_suffix_labels: int = 4
                              ) -> str:
    """DuckDB twin of :func:`with_registered_domain_psl` for a FIXED
    rule table (``load_suffix_rows`` output, embedded as list literals)
    over a HOST expression ``h`` — a transcription of the same
    algorithm (ascending longest-match fold incl. the wildcard
    label-count guard, exception override, implicit ``*``), not of
    expected outputs, so a driver oracle using it value-checks the
    matcher's decisions rule-for-rule (the ``doc_url_curation`` ``psl``
    grain)."""
    plain = sorted({s for s, k in rules if k == "rule"})
    wild = sorted({s for s, k in rules if k == "wildcard"})
    exc = sorted({s for s, k in rules if k == "exception"})

    def lit(vals):
        return "[" + ", ".join(f"'{v}'" for v in vals) + "]"

    lab = f"string_split({h}, '.')"
    n = f"len({lab})"

    def cand(k: int) -> str:
        return f"array_to_string({lab}[-{k}:], '.')"

    expr = "1"  # implicit '*'
    for k in range(1, max_suffix_labels + 1):
        conds = []
        if plain and k <= max(len(s.split(".")) for s in plain):
            conds.append(f"({n} >= {k} AND "
                         f"list_contains({lit(plain)}, {cand(k)}))")
        if wild and k >= 2:
            conds.append(f"({n} >= {k} AND "
                         f"list_contains({lit(wild)}, {cand(k - 1)}))")
        if conds:
            expr = (f"CASE WHEN {' OR '.join(conds)} THEN {k} "
                    f"ELSE {expr} END")
    for k in range(1, max_suffix_labels + 1):
        if exc:
            expr = (f"CASE WHEN {n} >= {k} AND "
                    f"list_contains({lit(exc)}, {cand(k)}) THEN {k - 1} "
                    f"ELSE {expr} END")
    return f"""CASE WHEN {h} IS NULL THEN NULL
        WHEN {h} = '' THEN ''
        WHEN {n} <= ({expr}) THEN ''
        ELSE array_to_string({lab}[-(({expr}) + 1):], '.') END"""


def load_suffix_rows(entries,
                     max_suffix_labels: int = 4) -> list[tuple[str, str]]:
    """Normalize raw public-suffix-list lines into ``(suffix, kind)``
    rows: drop comments (``//``) and blanks, strip whitespace, lowercase.
    ``*.ck`` becomes ``('ck', 'wildcard')`` (the stored suffix is the
    wildcard PARENT), ``!www.ck`` becomes ``('www.ck', 'exception')``,
    everything else ``(s, 'rule')`` — the three rule classes
    :func:`with_registered_domain_psl` matches (wildcards are stored, not
    expanded: expanding them would need an enumeration of hosts, and
    refusing them would make the real publicsuffix.org file
    unloadable). Entries whose match depth exceeds
    ``max_suffix_labels`` (rule/exception: label count; wildcard: parent
    labels + 1) are REFUSED loudly — deeper entries would be silently
    ignored by the matcher; raise the cap on both calls if a deployment
    needs them. Returns rows ready for
    ``createDataFrame(..., 'suffix string, kind string')``; duplicates
    are dropped here AND re-dropped by the matcher."""
    rows: list[tuple[str, str]] = []
    seen: set[tuple[str, str]] = set()
    for line in entries:
        s = line.strip()
        if not s or s.startswith("//"):
            continue
        if s.startswith("*."):
            row, depth = (s[2:].lower(), "wildcard"), s.count(".") + 1
        elif s.startswith("!"):
            row, depth = (s[1:].lower(), "exception"), s.count(".") + 1
        else:
            row, depth = (s.lower(), "rule"), s.count(".") + 1
        if depth > max_suffix_labels:
            raise ValueError(
                f"load_suffix_rows: entry {s!r} needs match depth {depth} "
                f"> max_suffix_labels={max_suffix_labels} — raise the cap "
                "here and on with_registered_domain_psl")
        if row not in seen:
            seen.add(row)
            rows.append(row)
    return rows


def url_dedup_keep_first(docs: DataFrame, url_col: str = "url",
                         id_col: str = "doc_id") -> DataFrame:
    """URL-keyed exact dedup: ``(id, canonical_url, kept)`` with kept =
    the MIN id per canonical URL (the deterministic keeper convention
    shared with ``exact_dedup_keep_first``). The shuffle key is the
    canonical URL's ``(md5, length)`` fingerprint, never the raw string —
    bounded-width keys at any corpus scale; the 128-bit fingerprint +
    exact length makes a cross-URL collision require an md5 collision AT
    equal lengths (the exact-text-dedup argument). NULL URLs are never
    dup candidates (each kept)."""
    canon = docs.select(F.col(id_col),
                        canonicalize_url(url_col).alias("canonical_url"))
    fp = canon.withColumn("__fp", F.md5(F.col("canonical_url"))) \
              .withColumn("__fplen", F.length("canonical_url"))
    w_min = (fp.filter(F.col("canonical_url").isNotNull())
             .groupBy("__fp", "__fplen")
             .agg(F.min(id_col).alias("__keep_id")))
    return (fp.join(w_min, ["__fp", "__fplen"], "left")
            .select(F.col(id_col), F.col("canonical_url"),
                    (F.col("__keep_id").isNull()
                     | (F.col("__keep_id") == F.col(id_col))).alias("kept")))


def domain_balanced_sample(docs: DataFrame, quota_per_domain: int,
                           url_col: str = "url", id_col: str = "doc_id",
                           seed: int = 42) -> DataFrame:
    """Per-domain document cap — ``(id, domain, kept)`` flagging at most
    ``quota_per_domain`` rows per registered domain, selected by the
    portable hash order (deterministic, engine-reproducible; NOT crawl
    order, which over-keeps whatever was fetched first). The generic
    two-phase machinery of ``cluster_balanced_sample``
    (``sampling.balanced_sample_by_key``) with the domain as the key:
    map-only prune → candidate-sized rank → keeper flag join. Domain
    cardinality is unknown a priori, so no broadcast hint (AQE decides
    from the actual candidate size). The key is the heuristic
    :func:`registered_domain`."""
    from .sampling import balanced_sample_by_key
    keyed = docs.select(F.col(id_col),
                        registered_domain(url_col).alias("domain"))
    return balanced_sample_by_key(
        keyed, quota_per_domain, key_col="domain", id_col=id_col,
        salt=f"domain-balance-{seed}")


def filter_blocklisted(docs: DataFrame, blocklist: DataFrame,
                       url_col: str = "url",
                       blocked_domain_col: str = "domain",
                       keep_domain_col: str | None = None) -> DataFrame:
    """Drop rows whose registered domain is blocklisted — broadcast LEFT
    ANTI join (C4's URL-blocklist step). The blocklist is MB-scale by
    nature; the corpus streams map-side through the join. BOTH sides
    normalize to the registered domain (real blocklists carry full
    hosts like ``www.evil.com`` or ``bad.evil.com``; lowercasing alone
    would leave such entries silently inert — asymmetric key spaces
    block nothing and raise nothing), so ``evil.co.uk`` blocks
    ``a.evil.co.uk`` and a ``bad.evil.com`` entry blocks the whole
    ``evil.com`` registered domain. Deployments needing
    exact-host granularity match on :func:`extract_host` instead.
    ``keep_domain_col`` forwards the computed registered domain on the
    survivors (it is already evaluated for the join — re-deriving it
    downstream would pay the regex stack again)."""
    bl_host = F.regexp_replace(
        F.lower(F.trim(F.col(blocked_domain_col))), r"^www\.", "")
    dom = docs.withColumn("__dom", registered_domain(url_col))
    bl = F.broadcast(blocklist.select(
        registered_domain_from_host(bl_host).alias("__dom")).distinct())
    out = dom.join(bl, "__dom", "left_anti")
    if keep_domain_col is None:
        return out.drop("__dom")
    return out.withColumnRenamed("__dom", keep_domain_col)

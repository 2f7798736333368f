"""PII detection/scrubbing units: hand-case masking semantics, count/scrub
consistency, pattern ordering, and plan purity (pure codegen expressions —
no Python, no shuffle)."""

from __future__ import annotations

from pyspark.sql import functions as F

from data_engineering_etl_pipeline_spark.extensions.pii import (
    PII_PATTERNS, pii_counts, scrub_pii)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_pii_hand_cases(spark):
    rows = [
        (0, "mail me at jo.doe+x@sub.example.org today"),
        (1, "server at 192.168.1.254 and 10.0.0.1"),
        (2, "ssn 123-45-6789 card 4111-1111-1111-1111"),
        (3, "call 555-867-5309 or 555.867.5309"),
        (4, "clean text with numbers 12345 and a date 2024-01-02"),
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    got = {r.id: r.asDict() for r in df.select(
        "id", *pii_counts("text"), scrub_pii("text").alias("s")).collect()}
    assert got[0]["n_email"] == 1 and "<EMAIL>" in got[0]["s"]
    assert "jo.doe" not in got[0]["s"]
    assert got[1]["n_ipv4"] == 2 and got[1]["s"].count("<IP>") == 2
    assert got[2]["n_ssn"] == 1 and got[2]["n_card"] == 1
    assert "<SSN>" in got[2]["s"] and "<CARD>" in got[2]["s"]
    assert got[3]["n_phone"] == 2 and got[3]["s"].count("<PHONE>") == 2
    # clean text: nothing matches, text unchanged
    assert all(got[4][f"n_{name}"] == 0 for name, _, _ in PII_PATTERNS)
    assert got[4]["s"] == rows[4][1]


def test_pii_scrub_removes_exactly_what_counts_found(spark):
    """Masking consumes every counted match: re-counting on the scrubbed
    text yields all zeros (placeholders never re-match), and the number of
    placeholders equals the raw counts."""
    rows = [(i, t) for i, t in enumerate([
        "a@b.co near 1.2.3.4",
        "123-45-6789 and 987-65-4321 twice",
        "4111 1111 1111 1111 then 555-123-4567",
        "nested ip 10.20.30.40 email x.y@z.io phone 555.555.1234",
    ])]
    df = spark.createDataFrame(rows, "id long, text string")
    scrubbed = df.select("id", scrub_pii("text").alias("text"))
    rescrub = scrubbed.select("id", *pii_counts("text")).collect()
    for r in rescrub:
        for name, _, _ in PII_PATTERNS:
            assert r[f"n_{name}"] == 0, (r.id, name)
    raw = df.select("id", *pii_counts("text")).collect()
    masked = {r.id: r.text for r in scrubbed.collect()}
    for r in raw:
        total = sum(r[f"n_{name}"] for name, _, _ in PII_PATTERNS)
        n_placeholders = sum(masked[r.id].count(ph)
                             for _, _, ph in PII_PATTERNS)
        assert total == n_placeholders, (r.id, total, n_placeholders)


def test_pii_ip_and_phone_coexist(spark):
    """A valid IPv4 and a dotted phone in one string each get their own
    placeholder (IP masks first per PII_PATTERNS order; a malformed IP with
    a 4-digit octet is NOT an IP and its 3-3-4 tail is legitimately a
    phone — the ordering contract only guarantees both engines apply the
    identical sequence)."""
    df = spark.createDataFrame(
        [(0, "reach 10.0.0.1 or 555.123.4567"),
         (1, "host 192.168.100.2000 up")], "id long, text string")
    got = {r.id: r.s for r in
           df.select("id", scrub_pii("text").alias("s")).collect()}
    assert got[0] == "reach <IP> or <PHONE>"
    assert got[1] == "host 192.<PHONE> up"


def test_pii_plan_is_pure_codegen(spark):
    """No Python nodes, no exchange: the scrub streams through the scan."""
    df = spark.range(10).select(
        F.concat(F.lit("row "), F.col("id").cast("string")).alias("text"))
    out = df.select(*pii_counts("text"), scrub_pii("text").alias("s"))
    p = _plan(out)
    assert "Python" not in p and "ArrowEval" not in p, p
    assert "Exchange" not in p, p


def test_pii_contiguous_card_and_phone_forms(spark):
    """Recall on the common dump forms: contiguous 16-digit PANs (the
    most common dump form), spaced phones, and (area)-parenthesized phones
    are counted AND masked — and both engines agree via the shared pattern table."""
    import duckdb

    from data_engineering_etl_pipeline_spark.extensions.pii import (
        pii_counts, pii_counts_sql, scrub_pii, scrub_pii_sql)

    rows = [
        (0, "pan 4111111111111111 done"),
        (1, "call (555) 123-4567 or 555 123 4567 now"),
        (2, "spaced card 4111 1111 1111 1111 mixed 4111-1111 1111-1111"),
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    got = {r["id"]: r for r in df.select(
        "id", *pii_counts("text"), scrub_pii("text").alias("s")).collect()}
    assert got[0]["n_card"] == 1 and "<CARD>" in got[0]["s"]
    assert "4111111111111111" not in got[0]["s"]
    assert got[1]["n_phone"] == 2 and got[1]["s"].count("<PHONE>") == 2
    assert got[2]["n_card"] == 2 and got[2]["s"].count("<CARD>") == 2

    con = duckdb.connect()
    con.execute("CREATE TABLE t (id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    cols = ", ".join(pii_counts_sql("text"))
    odf = con.execute(
        f"SELECT id, {cols}, {scrub_pii_sql('text')} AS s FROM t").df()
    for _, r in odf.iterrows():
        g = got[int(r["id"])]
        assert g["s"] == r["s"]
        for k in ("n_email", "n_card", "n_ssn", "n_ipv4", "n_phone"):
            assert int(g[k]) == int(r[k]), (r["id"], k)


def test_pii_phone_does_not_partial_mask_longer_digit_runs(spark):
    """'(555) 123-45678' is NOT a phone number; without the trailing word
    boundary the parenthesized branch masked the first 4 of the 5 trailing
    digits, leaking '<PHONE>8'. Both engines must
    agree: no match, text unchanged."""
    import duckdb

    from data_engineering_etl_pipeline_spark.extensions.pii import (
        pii_counts_sql, scrub_pii_sql)

    rows = [(0, "call (555) 123-45678 now"), (1, "ok (555) 123-4567 end")]
    df = spark.createDataFrame(rows, "id long, text string")
    got = {r["id"]: r for r in df.select(
        "id", *pii_counts("text"), scrub_pii("text").alias("s")).collect()}
    assert got[0]["n_phone"] == 0 and got[0]["s"] == rows[0][1]
    assert got[1]["n_phone"] == 1 and "<PHONE>" in got[1]["s"]

    con = duckdb.connect()
    con.execute("CREATE TABLE t2 (id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO t2 VALUES (?, ?)", rows)
    cols = ", ".join(pii_counts_sql("text"))
    odf = con.execute(
        f"SELECT id, {cols}, {scrub_pii_sql('text')} AS s FROM t2").df()
    for _, r in odf.iterrows():
        g = got[int(r["id"])]
        assert g["s"] == r["s"]
        assert int(g["n_phone"]) == int(r["n_phone"])

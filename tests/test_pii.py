"""PII scrub semantics on planted realistic strings: the registered
query's oracle hash-gate pins cross-engine match spans on the augmented
corpus; these tests pin RECALL and redaction behavior on free-form text
the corpus cannot carry (it has no digits at all)."""

from __future__ import annotations

from pyspark.sql import functions as F

from stateflow_spark.functions.pii import (
    EMAIL_RE,
    IPV4_RE,
    PHONE_RE,
    pii_count,
    pii_redact,
)


def _scrub(spark, text):
    df = spark.createDataFrame([(text,)], "t string").select(
        pii_count("t", EMAIL_RE).alias("n_emails"),
        pii_count("t", IPV4_RE).alias("n_ips"),
        pii_count("t", PHONE_RE).alias("n_phones"),
        pii_redact("t").alias("redacted"),
    )
    return df.collect()[0]


def test_planted_pii_all_types_found_and_redacted(spark):
    r = _scrub(
        spark,
        "reach Jo.Smith+test@sub.example.org or admin@example.com, "
        "server 192.168.1.254 backup 10.0.0.1, call +31 555 0199 now",
    )
    assert (r.n_emails, r.n_ips, r.n_phones) == (2, 2, 1)
    assert r.redacted == (
        "reach <EMAIL> or <EMAIL>, server <IP> backup <IP>, "
        "call <PHONE> now"
    )


def test_email_redacted_before_numeric_rules(spark):
    # the digits inside an email local part must vanish WITH the email,
    # never be clipped by the IP/phone patterns (PII_RULES order)
    r = _scrub(spark, "mail 10.0.0.1.user@example.com please")
    assert r.n_emails == 1
    assert "<EMAIL>" in r.redacted and "10.0" not in r.redacted


def test_clean_text_passes_through_unchanged(spark):
    text = "no personal data here just words and 42 numbers"
    r = _scrub(spark, text)
    assert (r.n_emails, r.n_ips, r.n_phones) == (0, 0, 0)
    assert r.redacted == text


def test_scrub_plan_is_single_projection_no_shuffle(spark):
    """The 100 TB posture: the registered scrub is one codegen'd
    projection over the scan — zero Generates, zero Python
    (BatchEvalPython/ArrowEvalPython), and the ONLY permitted Exchange
    is the footer-conditional fan-out repartition (r13 session 2: the
    regex scrub is compute-dense per byte and ran scan-fused on one
    task with the single-row-group test footer; at production layouts
    catalog.load's condition is false and the exchange VANISHES —
    tests/test_scan_fanout.py pins both directions of that mechanism)."""
    import io
    import re
    import contextlib

    from tests.conftest import SF_DIR

    from stateflow_spark.queries import REGISTRY

    df = REGISTRY["text_pii_scrub"].fn(spark, SF_DIR)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    # at most the one fan-out exchange, and it must be the explicit
    # REPARTITION_BY_NUM form (AQE-coalescing-exempt), never an
    # ENSURE_REQUIREMENTS shuffle some join/agg sneaked in
    n_ex = len(re.findall(r"\(\d+\) Exchange\b", plan))
    assert n_ex <= 1, plan
    if n_ex:
        assert "REPARTITION_BY_NUM" in plan, plan
    for node in ("Generate", "BatchEvalPython", "ArrowEvalPython"):
        assert node not in plan, node
    # codegen check must read the EXECUTED plan: with the fan-out
    # exchange present, AQE defers CollapseCodegenStages to stage
    # materialization, so the pre-execution formatted dump carries no
    # '*' markers either way
    df.collect()  # finalize THIS dataset's own AQE plan (noop write
    # would execute a separate QueryExecution)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain()  # simple mode keeps the '*(n)' codegen ids
    executed = buf.getvalue()
    # the scrub projection must carry the whole-stage-codegen '*(n)' mark
    assert re.search(r"\*\(\d+\) Project", executed), executed

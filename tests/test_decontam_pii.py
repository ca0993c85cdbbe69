"""PII scrubbing (webclean.py): category precedence and the
sequential-scrub semantics of the counts."""

from __future__ import annotations

from amazon_textract_transformer_pipeline_spark.operators.webclean import (
    with_pii_scrub,
)


def test_pii_scrub_categories_and_precedence(spark):
    rows = [
        (0, "Write to john.doe+spam@mail.example.co.uk today please."),
        (1, "server at 192.168.1.200 and 2001:db8:1:2:3:4:5:6 up"),
        (2, "call +1 (555) 123-4567 or 555.987.6543 now"),
        (3, "ssn-like 123456789 and card 4111111111111111 here"),
        (4, "user@10.0.0.1 logged in from 10.0.0.1"),  # email wins the @form
        (5, "clean text with the number 42 and date 2024-01-02 only"),
        (6, ""),
    ]
    out = {r.doc_id: r for r in with_pii_scrub(
        spark.createDataFrame(rows, "doc_id long, text string")).collect()}
    assert out[0].n_email == 1 and "<EMAIL>" in out[0].text_scrubbed
    assert "john.doe" not in out[0].text_scrubbed
    assert out[1].n_ipv4 == 1 and out[1].n_ipv6 == 1
    assert "<IP>" in out[1].text_scrubbed and "<IP6>" in out[1].text_scrubbed
    assert out[2].n_phone == 2 and out[2].text_scrubbed.count("<PHONE>") == 2
    assert out[3].n_id_number == 2  # 9-digit and 16-digit runs both
    # email pattern claims user@10.0.0.1? no — TLD must be alphabetic;
    # the bare ip and the @-form's ip both scrub as ipv4
    assert out[4].n_email == 0 and out[4].n_ipv4 == 2
    assert not out[5].has_pii and out[5].text_scrubbed == rows[5][1]
    assert out[6].pii_total == 0 and out[6].text_scrubbed == ""


def test_pii_scrub_sequential_semantics(spark):
    # an email's digits must not double-count as id/phone: counts are
    # taken on the already-scrubbed state
    df = spark.createDataFrame(
        [(0, "mail 123456789@example.com end")], "doc_id long, text string")
    r = with_pii_scrub(df).collect()[0]
    assert r.n_email == 1 and r.n_id_number == 0 and r.n_phone == 0
    assert r.text_scrubbed == "mail <EMAIL> end"
    assert r.pii_total == 1

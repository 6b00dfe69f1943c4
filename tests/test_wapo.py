"""S3 HTML-strip parity (ExtractTriples.scala:147-161): ``strip_html``
strips markup like jsoup's ``.text()`` (the reference's WaPo JSONL
source, shipped disabled)."""

from __future__ import annotations


def test_strip_html_matches_jsoup_text_semantics(spark):
    from pyspark.sql import functions as F

    from dstlr_spark.functions.text import strip_html

    cases = [
        ("<p>Barack <b>Obama</b> was born.</p>", "Barack Obama was born."),
        ("A &amp; B say &lt;hi&gt; &quot;there&quot;", 'A & B say <hi> "there"'),
        # one-pass entity rule: &amp;lt; → &lt; (never <)
        ("escaped: &amp;lt;tag&amp;gt;", "escaped: &lt;tag&gt;"),
        ("a&nbsp;&nbsp;b   c\t\nd", "a b c d"),
        ("<div><span>nested</span><br/>line</div>", "nested line"),
        ("  plain already  ", "plain already"),
        ("", ""),
    ]
    df = spark.createDataFrame(cases, "raw string, expected string")
    rows = df.select(strip_html("raw").alias("got"), "expected").collect()
    for r in rows:
        assert r["got"] == r["expected"], (r["got"], r["expected"])

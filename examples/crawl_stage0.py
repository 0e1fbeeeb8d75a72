"""Web-crawl stage 0, batch and streaming: WARC segments in, clean
deduplicated text out.

The pipeline every web-scale training corpus starts with
(C4 / RefinedWeb / CCNet), composed from this repo's operators:

    read_warc_responses    one task per ~1 GB segment, record split +
                           HTTP-envelope peel in an Arrow kernel
    canonicalize_url       codegen normalization (case, ports,
                           tracking params, userinfo, slashes)
    filter_by_robots       RFC 9309 longest-match verdicts after ONE
                           host equi-join (AQE-broadcast rules)
    strip_html_expr        codegen boilerplate strip, zero Python
    dedup_url              one exchange on the canonical string

and the ONLINE sibling over the same kernels:

    read_warc_stream -> canonicalize -> robots_gate_stream ->
    url_dedup_stream     (state = one short string per in-window URL)

This walkthrough synthesizes two WARC segments (with LF- and CRLF-
terminated headers — both occur in the wild), runs the batch pipeline,
prints the plan shape of the dedup (ONE exchange), then replays the
same segments through the streaming path and checks the kept set
matches:

    python examples/crawl_stage0.py
"""

from __future__ import annotations

import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from trackintel_spark import get_spark
from trackintel_spark.scale import canonicalize_url, dedup_url, strip_html_expr
from trackintel_spark.scale.web import filter_by_robots
from trackintel_spark.sources import read_warc_responses
from trackintel_spark.streaming import robots_gate_stream, url_dedup_stream

PAGES = [
    # (url, html) — three distinct documents behind five fetched URLs
    ("https://www.site-a.com:443/docs/intro/?utm_source=feed",
     "<html><body><h1>Intro</h1><p>Alpha &amp; beta.</p></body></html>"),
    ("https://SITE-A.com/docs//intro",  # same canonical as above
     "<html><body><h1>Intro</h1><p>Alpha &amp; beta.</p></body></html>"),
    ("https://crawler:pw@site-a.com/private/report",  # robots-blocked
     "<html><body>secret</body></html>"),
    ("https://site-b.com/page?b=2&a=1",
     "<html><style>p{}</style><body><p>Gamma delta.</p></body></html>"),
    ("https://site-b.com/page?a=1&b=2&fbclid=x",  # same canonical
     "<html><style>p{}</style><body><p>Gamma delta.</p></body></html>"),
]

ROBOTS = [
    ("site-a.com", "User-agent: *\nDisallow: /private/"),
    ("site-b.com", "User-agent: *\nAllow: /"),
]


def _record(url: str, html: str, crlf: bool = True) -> bytes:
    nl = "\r\n" if crlf else "\n"
    body = (f"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n{html}").encode()
    hdr = (
        f"WARC/1.0{nl}WARC-Type: response{nl}WARC-Target-URI: {url}{nl}"
        f"WARC-Date: 2024-01-01T00:00:00Z{nl}Content-Type: application/http{nl}"
        f"Content-Length: {len(body)}{nl}{nl}"
    ).encode()
    return hdr + body + (nl * 2).encode()


def _write_segments(d: str) -> None:
    # segment 0: CRLF headers; segment 1: bare-LF headers over HTTP
    # payloads that themselves contain CRLF blank lines — the case the
    # terminator logic must not trip on
    with open(os.path.join(d, "seg-000.warc"), "wb") as f:
        for url, html in PAGES[:3]:
            f.write(_record(url, html, crlf=True))
    with open(os.path.join(d, "seg-001.warc"), "wb") as f:
        for url, html in PAGES[3:]:
            f.write(_record(url, html, crlf=False))


def main() -> None:
    spark = get_spark(app_name="crawl_stage0", master="local[4]")
    spark.sparkContext.setLogLevel("ERROR")
    tmp = tempfile.mkdtemp(prefix="crawl_stage0_")
    seg_dir = os.path.join(tmp, "segments")
    os.makedirs(seg_dir)
    _write_segments(seg_dir)
    robots = spark.createDataFrame(ROBOTS, "host string, robots_txt string")

    # ---- batch ---------------------------------------------------------
    pages = read_warc_responses(spark, seg_dir).select(
        F.monotonically_increasing_id().alias("doc_id"), "url", "html"
    )
    gated = filter_by_robots(pages, robots).filter("robots_allowed")
    clean = gated.select(
        "doc_id", "url", strip_html_expr(F.col("html")).alias("text")
    )
    kept = dedup_url(clean).select("canonical_url", "url_dup_count", "text")
    rows = sorted(kept.collect())
    print(f"batch: {pages.count()} fetched -> {gated.count()} allowed -> {len(rows)} kept")
    for r in rows:
        print(f"  {r.canonical_url}  (x{r.url_dup_count})  {r.text!r}")
    plan = kept._jdf.queryExecution().executedPlan().toString()
    print(
        "canonical-url exchanges in plan:",
        plan.count("Exchange hashpartitioning(canonical_url"),
        "(tests/test_web.py pins the standalone dedup to ONE exchange;"
        " composed with the gate the optimizer may stage one more)",
    )

    # ---- streaming -----------------------------------------------------
    # same segments arriving as a stream; verdict + dedup online
    frontier_dir = os.path.join(tmp, "frontier")
    pages.select(
        "doc_id", "url", F.lit("2024-01-01 00:00:00").cast("timestamp").alias("ts")
    ).coalesce(1).write.parquet(frontier_dir)
    stream = (
        spark.readStream.schema("doc_id long, url string, ts timestamp")
        .parquet(frontier_dir)
    )
    online = url_dedup_stream(
        robots_gate_stream(stream, robots).filter("robots_allowed")
    )
    q = (
        online.writeStream.format("memory").queryName("stage0")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = {r.canonical_url for r in spark.sql("SELECT * FROM stage0").collect()}
    want = {r.canonical_url for r in rows}
    print(f"streaming kept {len(got)} canonical urls; matches batch: {got == want}")
    assert got == want
    spark.stop()


if __name__ == "__main__":
    main()

"""Deterministic synthetic web corpus (SURVEY §5 / FIXTURES.md §1-3).

Derives a Common-Crawl-style ``pages`` table — schema per BASELINE.json
input_hint: ``(url string, warc_ts timestamp, html binary, text string,
lang string)`` — **purely as a projection of the driver-provided
``documents`` table**, so a DuckDB oracle over the same parquet can compute
closed-form expected outputs for every crawl/extract operator.

Layout (all closed-form in ``doc_id``):

- ``host_id  = doc_id % 20``, ``host = host-{host_id}.test``
- ``local    = doc_id / 20`` (integer) — per-host page id
- ``url      = https://host-{host_id}.test/page-{local}.html``
- link graph: page ``local`` links to children ``2*local+1`` and
  ``2*local+2`` when they exist for the host → a per-host **acyclic binary
  tree** rooted at page-0; BFS depth of page ``local`` =
  ``floor(log2(local+1))``. (Acyclic + duplicate-free so the reference —
  which has no URL dedupe, ``dude/base.py:361-376`` — and this engine fetch
  identical URL sets; SURVEY §7.3.)
- body: ``G = doc_id % 3 + 1`` ``div.custom-group`` blocks patterned on the
  reference fixture ``examples/dude.html:9-21`` — ``a.url[href=item-...]``
  wrapping ``p.title`` ("Title {doc_id}-{k}"), plus ``p.description`` except
  for k=2 (dude.html's group 2 has no description); a
  ``p.content`` holding the document's full text (the byte-identity target);
  child links ``a.next``; one self link (must be filtered,
  ``beautifulsoup_scraper.py:82-85``).
- robots: hosts with ``host_id % 4 == 0`` disallow ``/page-7.html``; hosts
  with ``host_id % 5 == 4`` have **no** robots row (fail-open,
  ``base.py:387-388``); ``Crawl-Delay = host_id % 3`` (format mirrors the
  reference test fixture ``tests/test_bs4.py:425-429``).
- seeds: ``page-0`` of each host, seed order = host_id.

Everything is built with JVM-side column expressions (format_string/concat)
— no Python in the generation path.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from .session import _local_relation

N_HOSTS = 20


def _group_block(k: int):
    """One div.custom-group as a column expression (k = 1..3)."""
    title = F.format_string(f"Title %d-{k}", F.col("doc_id"))
    href = F.format_string(f"item-%d-{k}.html", F.col("doc_id"))
    block = F.concat(
        F.lit('<div class="custom-group">\n<a class="url" href="'),
        href,
        F.lit('"><p class="title">'),
        title,
        F.lit("</p></a>\n"),
    )
    if k != 2:  # dude.html: group 2 has no description
        block = F.concat(
            block,
            F.lit('<p class="description">'),
            F.format_string(f"Description %d-{k}", F.col("doc_id")),
            F.lit("</p>\n"),
        )
    return F.concat(block, F.lit("</div>\n"))


def pages_df(spark: SparkSession, sf_dir: str, pad: int = 0) -> DataFrame:
    """documents.parquet → pages(url, warc_ts, html, text, lang) + layout cols.

    ``pad`` appends that many deterministic ``p.filler`` paragraphs (each the
    document's text prefixed by its ordinal) — no selector in any
    query/oracle touches ``.filler``, so extraction outputs are unchanged
    while page weight approaches real Common-Crawl pages (~50-150 KB) for
    representative parse cost in benchmarks.
    """
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    d = (
        docs.withColumn("host_id", (F.col("doc_id") % N_HOSTS).cast("int"))
        .withColumn("local", (F.col("doc_id") / N_HOSTS).cast("long"))
        .withColumn("n_groups", (F.col("doc_id") % 3 + 1).cast("int"))
    )
    # per-host page count → which children exist
    from pyspark.sql import Window

    d = d.withColumn("n_local", F.count("*").over(Window.partitionBy("host_id")))

    url = F.format_string("https://host-%d.test/page-%d.html", "host_id", "local")
    child1 = F.col("local") * 2 + 1
    child2 = F.col("local") * 2 + 2

    groups_html = F.concat(
        _group_block(1),
        F.when(F.col("n_groups") >= 2, _group_block(2)).otherwise(F.lit("")),
        F.when(F.col("n_groups") >= 3, _group_block(3)).otherwise(F.lit("")),
    )
    esc = F.col("text")
    for a, b in (("&", "&amp;"), ("<", "&lt;"), (">", "&gt;")):
        esc = F.replace(esc, F.lit(a), F.lit(b))
    links_html = F.concat(
        F.when(
            child1 < F.col("n_local"),
            F.format_string('<div><a class="next" href="page-%d.html">Next 1</a></div>\n', child1),
        ).otherwise(F.lit("")),
        F.when(
            child2 < F.col("n_local"),
            F.format_string('<div><a class="next" href="page-%d.html">Next 2</a></div>\n', child2),
        ).otherwise(F.lit("")),
        F.format_string('<div><a class="self" href="page-%d.html">Self</a></div>\n', F.col("local")),
    )
    filler = F.lit("")
    if pad > 0:
        filler = F.array_join(
            F.transform(
                F.sequence(F.lit(1), F.lit(pad)),
                lambda j: F.concat(
                    F.lit('<p class="filler">'),
                    j.cast("string"), F.lit(" "), esc,
                    F.lit("</p>\n"),
                ),
            ),
            "",
        )
    html = F.concat(
        F.lit("<!DOCTYPE html>\n<html lang=\""),
        F.col("lang"),
        F.lit('">\n<head><meta charset="UTF-8"><title>'),
        F.format_string("Page %d", F.col("doc_id")),
        F.lit("</title></head>\n<body>\n"),
        groups_html,
        F.lit('<p class="content">'),
        esc,
        F.lit("</p>\n"),
        filler,
        links_html,
        F.lit("</body>\n</html>\n"),
    )
    return d.select(
        url.alias("url"),
        (F.lit("2024-01-01 00:00:00").cast("timestamp") + F.make_interval(secs=F.col("doc_id"))).alias("warc_ts"),
        F.encode(html, "UTF-8").alias("html"),
        F.col("text"),
        F.col("lang"),
        "doc_id", "host_id", "local", "n_local", "n_groups",
    )


def seeds(n_hosts: int = N_HOSTS) -> list[str]:
    return [f"https://host-{m}.test/page-0.html" for m in range(n_hosts)]


def robots_df(spark: SparkSession, n_hosts: int = N_HOSTS) -> DataFrame:
    """Per-host robots dim (reference fixture format tests/test_bs4.py:425-429)."""
    rows = []
    for m in range(n_hosts):
        if m % 5 == 4:
            continue  # no robots.txt → fail-open
        disallow = "Disallow: /page-7.html\n" if m % 4 == 0 else ""
        txt = f"User-Agent: *\n{disallow}Crawl-Delay: {m % 3}\n"
        rows.append((f"host-{m}.test", txt, m % 3))
    return _local_relation(
        spark, rows, "host string, robots_txt string, crawl_delay int"
    )

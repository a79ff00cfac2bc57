"""HTML main-content extraction over WARC response payloads.

The missing link between the container sources (sources/warc.py) and
the text/curation stack: a real crawl pipeline's first transform after
framing is HTML -> main text. This module wires the from-scratch
extractor (functions/html_extract.py: tag/script/style/comment
stripping, entity decode, block segmentation, link-density boilerplate
classification) into the crawl-ingest topology — binaryFile scan, one
WARC shard per task, Arrow-batched map-only extraction, zero shuffles.
It is the web-corpus analogue of the reference's parse stage
(reference python/main.py:263-266: raw ingested payload -> structured
rows).

Oracle strategy (same discipline as corpus_warc_ingest): the fixture
renders each `documents` row into a full HTML page — title, styles, a
script containing raw '<' and a fake '</div>', an HTML comment with
fake markup, pure-link nav/header/footer (and an aside on odd doc_ids),
and the document text as entity-escaped 40-word <p> paragraphs (with
'a' -> '&#97;' and 'the' -> 't&#104;e' so numeric entity decode is on
the hot path). Extraction must invert the rendering exactly: drop every
boilerplate block by link density, keep every paragraph, decode
entities, and re-join to the original text — so DuckDB can state the
expected output in closed form over `documents`.

Scale shape: real crawls shard WARC at ~1 GB, so per-task memory is one
shard; extraction is stateless per record (map-only, no exchange in the
plan); the per-doc output rows are narrow (the extracted text itself is
reduced to length + digest before leaving the task, so no wide payload
crosses any boundary).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from history_collector_spark.catalog import table
from history_collector_spark.registry import register
from history_collector_spark.pinning import pin_local
from history_collector_spark.scratch import per_session, scratch_dir

_WORDS_PER_PARA = 40
_MAX_LINK_DENSITY = 0.35


def render_page(doc_id: int, source: str, text: str) -> str:
    """Deterministic document -> HTML page (fixture side)."""
    from history_collector_spark.functions.html_extract import escape_html

    def esc_word(w: str) -> str:
        if w == "a":
            return "&#97;"
        if w == "the":
            return "t&#104;e"
        return escape_html(w)

    words = text.split(" ")
    paras = [
        "<p>"
        + " ".join(esc_word(w) for w in words[i : i + _WORDS_PER_PARA])
        + "</p>"
        for i in range(0, len(words), _WORDS_PER_PARA)
    ]
    nav_links = " ".join(
        f'<a href="/s?q=x>y&amp;p={k}">nav{k}</a>'
        for k in range(3 + doc_id % 3)
    )
    aside = (
        "<aside><a href='/ad1'>sponsored</a> <a href='/ad2'>links</a>"
        "</aside>"
        if doc_id % 2 == 1
        else ""
    )
    return (
        "<!DOCTYPE html>\n"
        f"<html><head><title>Doc {doc_id}</title>\n"
        "<style>body { color: #333; } a > b { x: 1; }</style>\n"
        '<script>var x = 1 < 2 && "</div>"; // fake close\n</script>\n'
        "</head>\n<body>\n"
        f"<nav>{nav_links}</nav>\n"
        "<!-- boilerplate comment with <p>fake para</p> -->\n"
        f'<header><a href="/{source}">SiteName</a></header>\n'
        f'<div id="main">\n' + "\n".join(paras) + "\n</div>\n"
        f"{aside}\n"
        "<footer><a href='/tos'>terms</a> <a href='/priv'>privacy</a>"
        "</footer>\n"
        "</body></html>\n"
    )


@per_session
def _write_html_warc_fixture(spark: SparkSession, sf_dir: str) -> str:
    from history_collector_spark.sources.warc import write_warc

    out = scratch_dir("hc_htmlwarc_")
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    # Real crawls shard at a fixed SIZE, so shard COUNT grows with the
    # corpus — that is where scan parallelism comes from. The round-10
    # probe measured the cost of getting this wrong: a pinned 8-shard
    # fixture read x13.5 sf0.1->sf1 (10x work on the same 8 tasks);
    # ~2500 pages/shard re-measured x3.5 with the identical oracle.
    n_shards = max(8, -(-docs.count() // 2500))

    # distributed crawler-side archiver (round 13): each shard group
    # renders and writes its own WARC inside its task — the corpus
    # never lands on the driver, so sf10 probes of the HTML/crawl tier
    # measure extraction, not fixture scaffolding
    def _emit(key, pdf):
        import pandas as pd

        k = int(key[0])
        pdf = pdf.sort_values("doc_id")
        recs = [
            {
                "warc_type": "response",
                "uri": f"http://crawl.example/{r.source}/{r.doc_id}",
                "date": "2024-01-01T00:00:00Z",
                "payload": render_page(
                    int(r.doc_id), r.source, r.text
                ).encode("utf-8"),
            }
            for r in pdf.itertuples()
        ]
        gz = k % 2 == 1
        blob = write_warc(recs, gzip_members=gz)
        name = f"pages{k}.warc" + (".gz" if gz else "")
        path = os.path.join(out, name)
        tmp = path + ".tmp"
        with open(tmp, "wb") as f:
            f.write(blob)
        os.replace(tmp, path)
        return pd.DataFrame([(k, len(recs))], columns=["shard", "n"])

    (
        docs.withColumn("shard", F.col("doc_id") % n_shards)
        .repartition(n_shards, "shard")
        .groupBy("shard")
        .applyInPandas(_emit, "shard bigint, n bigint")
        .collect()  # tiny: one row per shard
    )
    return out


def _extract_batches(batches):
    import hashlib

    import pandas as pd

    from history_collector_spark.functions.html_extract import (
        extract_main_text,
    )
    from history_collector_spark.sources.warc import parse_warc

    for pdf in batches:
        rows = []
        for blob in pdf["content"]:
            for rec in parse_warc(bytes(blob)):
                if rec["warc_type"] != "response":
                    continue
                parts = rec["uri"].rsplit("/", 2)
                title, text, n_content, n_boiler = extract_main_text(
                    rec["payload"].decode("utf-8", "replace"),
                    max_link_density=_MAX_LINK_DENSITY,
                )
                rows.append(
                    (
                        parts[-2],
                        int(parts[-1]),
                        title,
                        n_content,
                        n_boiler,
                        len(text),
                        int(
                            hashlib.md5(text.encode()).hexdigest()[:8],
                            16,
                        ),
                    )
                )
        yield pd.DataFrame(
            rows,
            columns=[
                "source",
                "doc_id",
                "title",
                "n_content_blocks",
                "n_boiler_blocks",
                "extracted_chars",
                "h32",
            ],
        )


@register(
    "corpus_html_extract",
    oracle="""
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           source,
           'Doc ' || CAST(doc_id AS VARCHAR) AS title,
           CAST(ceil(len(string_split(text, ' ')) / 40.0) AS BIGINT)
             AS n_content_blocks,
           CAST(3 + doc_id % 2 AS BIGINT) AS n_boiler_blocks,
           CAST(length(text) AS BIGINT) AS extracted_chars,
           CAST(concat('0x', substr(md5(text), 1, 8)) AS BIGINT) AS h32
    FROM documents
    """,
)
def corpus_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """binaryFile scan of HTML-payload WARC shards -> Arrow-batched
    framing + main-content extraction -> one narrow row per page.

    Extraction must exactly invert the fixture's rendering (boilerplate
    dropped by link density, paragraphs kept, entities decoded,
    40-word paragraphs re-joined), so the expected title / block counts
    / char count / digest are all closed-form over `documents` — any
    leaked nav text, swallowed paragraph, or mis-decoded entity flips
    the per-row hash.
    """
    src = _write_html_warc_fixture(spark, sf_dir)
    blobs = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "pages*.warc*")
        .load(src)
        .select("content")
    )
    return blobs.mapInPandas(
        _extract_batches,
        schema=(
            "source string, doc_id bigint, title string,"
            " n_content_blocks bigint, n_boiler_blocks bigint,"
            " extracted_chars bigint, h32 bigint"
        ),
    ).select(
        "doc_id",
        "source",
        "title",
        F.col("n_content_blocks").cast("bigint").alias("n_content_blocks"),
        F.col("n_boiler_blocks").cast("bigint").alias("n_boiler_blocks"),
        "extracted_chars",
        "h32",
    )


# ---------------------------------------------------------------------------
# Web-corpus end-to-end: the crawl-side twin of curation_end_to_end
# (VERDICT r10 item 2's optional extension) — container bytes in, a
# curated per-source funnel out, ONE DAG. The extraction kernel emits
# only narrow columns (token count, text hash, boilerplate count); the
# extracted text never crosses a task boundary.
# ---------------------------------------------------------------------------

_WEB_MIN_TOKENS = 45
_WEB_BUDGET = 600


def _funnel_meta_batches(batches):
    import hashlib

    import pandas as pd

    from history_collector_spark.functions.html_extract import (
        extract_main_text,
    )
    from history_collector_spark.sources.warc import parse_warc

    for pdf in batches:
        rows = []
        for blob in pdf["content"]:
            for rec in parse_warc(bytes(blob)):
                if rec["warc_type"] != "response":
                    continue
                parts = rec["uri"].rsplit("/", 2)
                _, text, _, n_boiler = extract_main_text(
                    rec["payload"].decode("utf-8", "replace"),
                    max_link_density=_MAX_LINK_DENSITY,
                )
                rows.append(
                    (
                        int(parts[-1]),
                        parts[-2],
                        len(text.split(" ")) if text else 0,
                        hashlib.md5(text.encode()).hexdigest(),
                        n_boiler,
                    )
                )
        yield pd.DataFrame(
            rows, columns=["doc_id", "source", "nt", "h", "n_boiler"]
        )


@register(
    "curation_web_end_to_end",
    oracle=f"""
    WITH meta AS (
      SELECT doc_id, source,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS nt,
             md5(text) AS h,
             CAST(3 + doc_id % 2 AS BIGINT) AS n_boiler
      FROM documents
    ),
    q AS (SELECT * FROM meta WHERE nt >= {_WEB_MIN_TOKENS}),
    ex AS (
      SELECT *, row_number() OVER (PARTITION BY h ORDER BY doc_id) AS rn
      FROM q
    ),
    b AS (SELECT * FROM ex WHERE rn = 1),
    e AS (
      SELECT doc_id, sum(nt) OVER (
        PARTITION BY source ORDER BY doc_id
        ROWS UNBOUNDED PRECEDING) AS cum
      FROM b
    ),
    fates AS (
      SELECT m.source, m.nt, m.n_boiler,
        CASE WHEN m.nt < {_WEB_MIN_TOKENS} THEN 'quality'
             WHEN ex.rn > 1 THEN 'exact'
             WHEN e.cum > {_WEB_BUDGET} THEN 'budget'
             ELSE 'kept' END AS fate
      FROM meta m
      LEFT JOIN ex ON ex.doc_id = m.doc_id
      LEFT JOIN e ON e.doc_id = m.doc_id
    )
    SELECT source,
      CAST(count(*) AS BIGINT) AS n_pages,
      CAST(sum(n_boiler) AS BIGINT) AS boiler_blocks_dropped,
      CAST(sum(CASE WHEN fate = 'quality' THEN 1 ELSE 0 END) AS BIGINT)
        AS drop_quality,
      CAST(sum(CASE WHEN fate = 'exact' THEN 1 ELSE 0 END) AS BIGINT)
        AS drop_exact,
      CAST(sum(CASE WHEN fate = 'budget' THEN 1 ELSE 0 END) AS BIGINT)
        AS drop_budget,
      CAST(sum(CASE WHEN fate = 'kept' THEN 1 ELSE 0 END) AS BIGINT)
        AS kept_docs,
      CAST(sum(CASE WHEN fate = 'kept' THEN nt ELSE 0 END) AS BIGINT)
        AS kept_tokens
    FROM fates GROUP BY source
    """,
)
def curation_web_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC shards -> HTML main-content extraction -> quality gate
    (>= 45 extracted tokens) -> exact dedup on the extracted text's
    md5 (keep lowest doc_id) -> per-source token budget (inclusive
    running total <= 600, doc_id order) -> per-source attrition funnel,
    every page charged to the FIRST stage that drops it, fate columns
    summing exactly to the page count. Because extraction inverts the
    fixture rendering exactly, DuckDB states the whole funnel
    closed-form over `documents` — a single leaked nav link or
    swallowed paragraph changes a token count and breaks a funnel cell.

    Scale shape: one WARC shard per task through the Arrow kernel
    (text reduced to (nt, md5) in-task); downstream is hash-keyed
    exchanges of narrow metadata and the two-phase range prefix sum
    for the budget cumsum."""
    from history_collector_spark.functions.ranking import (
        grouped_range_prefix_sum,
    )

    src = _write_html_warc_fixture(spark, sf_dir)
    blobs = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "pages*.warc*")
        .load(src)
        .select("content")
    )
    # r15: pin meta — three consumer subtrees (quality/exact chain,
    # budget prefix sum, fate assembly) would otherwise each re-run
    # the WARC parse + HTML extraction Arrow kernel.
    meta = blobs.mapInPandas(
        _funnel_meta_batches,
        schema=(
            "doc_id bigint, source string, nt bigint, h string,"
            " n_boiler bigint"
        ),
    ).transform(pin_local)
    from pyspark.sql import Window

    q = meta.filter(F.col("nt") >= _WEB_MIN_TOKENS)
    wex = Window.partitionBy("h").orderBy("doc_id")
    ex = q.withColumn("rn", F.row_number().over(wex))
    b = ex.filter(F.col("rn") == 1).select("doc_id", "source", "nt")
    e = grouped_range_prefix_sum(
        b, ["source"], [F.col("doc_id")], "nt", out_col="cum"
    ).select("doc_id", "cum")

    fate = (
        meta.join(ex.select("doc_id", "rn"), "doc_id", "left")
        .join(e, "doc_id", "left")
        .select(
            "source",
            "nt",
            "n_boiler",
            F.when(F.col("nt") < _WEB_MIN_TOKENS, "quality")
            .when(F.col("rn") > 1, "exact")
            .when(F.col("cum") > _WEB_BUDGET, "budget")
            .otherwise("kept")
            .alias("fate"),
        )
    )
    return fate.groupBy("source").agg(
        F.count("*").alias("n_pages"),
        F.sum("n_boiler").alias("boiler_blocks_dropped"),
        F.sum((F.col("fate") == "quality").cast("long")).alias(
            "drop_quality"
        ),
        F.sum((F.col("fate") == "exact").cast("long")).alias("drop_exact"),
        F.sum((F.col("fate") == "budget").cast("long")).alias(
            "drop_budget"
        ),
        F.sum((F.col("fate") == "kept").cast("long")).alias("kept_docs"),
        F.sum(
            F.when(F.col("fate") == "kept", F.col("nt")).otherwise(0)
        ).alias("kept_tokens"),
    )


# ---------------------------------------------------------------------------
# Outlink + anchor-text extraction (round 11, VERDICT r10 missing #5):
# the operator that feeds the crawl frontier from fetched pages —
# <a href> targets resolved against the page URL, with the anchor text
# that retrieval/quality stacks use as a ranking signal.
# ---------------------------------------------------------------------------


def _outlink_batches(batches):
    import pandas as pd

    from history_collector_spark.functions.html_extract import (
        extract_links,
    )
    from history_collector_spark.sources.warc import parse_warc

    for pdf in batches:
        rows = []
        for blob in pdf["content"]:
            for rec in parse_warc(bytes(blob)):
                if rec["warc_type"] != "response":
                    continue
                parts = rec["uri"].rsplit("/", 2)
                links = extract_links(
                    rec["payload"].decode("utf-8", "replace"),
                    base_url=rec["uri"],
                )
                for ord_, (url, anchor) in enumerate(links):
                    rows.append(
                        (int(parts[-1]), parts[-2], ord_, url, anchor)
                    )
        yield pd.DataFrame(
            rows, columns=["doc_id", "source", "ord", "url", "anchor"]
        )


@register(
    "corpus_html_outlinks",
    # The fixture page's link inventory is deterministic per doc_id
    # (render_page: 3 + doc_id % 3 nav links, one header link to
    # /{source}, a 2-link aside on odd ids, a 2-link footer), so the
    # oracle can state every (ord, url, anchor) row closed-form from
    # doc_id arithmetic — it never parses HTML, never resolves a URL.
    # Agreement proves attribute parsing (quoted '>' inside href,
    # &amp; entity decode), document-order link walking, script/
    # comment suppression, and base-URL resolution all invert the
    # renderer exactly.
    oracle="""
    WITH base AS (
      SELECT doc_id, source, 3 + doc_id % 3 AS nn, doc_id % 2 AS odd
      FROM documents
    ),
    ks AS (SELECT unnest(range(0, 5)) AS k),
    nav AS (
      SELECT doc_id, source, k AS ord,
             'http://crawl.example/s?q=x>y&p=' || k AS url,
             'nav' || k AS anchor
      FROM base JOIN ks ON ks.k < base.nn
    ),
    tail AS (
      SELECT doc_id, source, CAST(nn AS BIGINT) AS ord,
             'http://crawl.example/' || source AS url,
             'SiteName' AS anchor
      FROM base
      UNION ALL
      SELECT doc_id, source, nn + 1, 'http://crawl.example/ad1',
             'sponsored' FROM base WHERE odd = 1
      UNION ALL
      SELECT doc_id, source, nn + 2, 'http://crawl.example/ad2',
             'links' FROM base WHERE odd = 1
      UNION ALL
      SELECT doc_id, source, nn + 1 + 2 * odd,
             'http://crawl.example/tos', 'terms' FROM base
      UNION ALL
      SELECT doc_id, source, nn + 2 + 2 * odd,
             'http://crawl.example/priv', 'privacy' FROM base
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id, source,
           CAST(ord AS BIGINT) AS ord, url, anchor
    FROM (SELECT * FROM nav UNION ALL SELECT * FROM tail)
    """,
)
def corpus_html_outlinks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """binaryFile WARC scan -> Arrow-batched framing + <a href>
    extraction (functions/html_extract.py:extract_links) -> one row
    per (page, link ordinal) with the href resolved against the page
    URL and the entity-decoded anchor text.

    Scale shape: map-only — one WARC shard per task, no exchange in
    the plan at all (link rows flow straight to the sink); at crawl
    scale the frontier dedup/scheduling downstream
    (queries/crawl.py:crawl_discovery_end_to_end) provides the
    exchanges, keyed on the canonical URL, exactly as built."""
    src = _write_html_warc_fixture(spark, sf_dir)
    blobs = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "pages*.warc*")
        .load(src)
        .select("content")
    )
    return blobs.mapInPandas(
        _outlink_batches,
        schema=(
            "doc_id bigint, source string, ord bigint, url string,"
            " anchor string"
        ),
    )


@register(
    "crawl_anchor_text_index",
    # Closed-form inversion: the fixture's link inventory is fixed per
    # doc_id, so every (canonical target, inlink count, referrer
    # count, consensus anchor) cell is doc_id arithmetic. The nav
    # targets additionally round-trip the canonicalizer (tracking
    # params none, query params SORTED: p=K before q=x>y), so a
    # normalizer regression surfaces as a missing/extra target row.
    oracle="""
    WITH d AS (
      SELECT doc_id, source, 3 + doc_id % 3 AS nn, doc_id % 2 AS odd
      FROM documents
    ),
    tot AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(odd) AS BIGINT) AS n_odd
      FROM d
    ),
    ks AS (SELECT unnest(range(0, 5)) AS k),
    rows_ AS (
      SELECT 'http://crawl.example/s?p=' || k || '&q=x>y' AS target,
             CAST(count(*) AS BIGINT) AS n_inlinks,
             'nav' || k AS anchor
      FROM d JOIN ks ON ks.k < d.nn GROUP BY k
      UNION ALL
      SELECT 'http://crawl.example/' || source,
             CAST(count(*) AS BIGINT), 'SiteName'
      FROM d GROUP BY source
      UNION ALL
      SELECT 'http://crawl.example/ad1', n_odd, 'sponsored' FROM tot
      UNION ALL
      SELECT 'http://crawl.example/ad2', n_odd, 'links' FROM tot
      UNION ALL
      SELECT 'http://crawl.example/tos', n, 'terms' FROM tot
      UNION ALL
      SELECT 'http://crawl.example/priv', n, 'privacy' FROM tot
    )
    SELECT target, n_inlinks, n_inlinks AS n_referrer_pages, anchor
    FROM rows_
    """,
)
def crawl_anchor_text_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The inverted anchor index a retrieval/quality stack builds from
    extracted outlinks: WARC pages -> extract_links -> canonical
    target URL (queries/urls.py normalizer, pure Catalyst) -> one
    hash exchange keyed by target -> per-target inlink count, distinct
    referrer pages, and the consensus anchor text.

    Scale shape: the only exchange is the target-keyed aggregate with
    map-side combine — at crawl scale this is the exact dataflow that
    builds anchor-text fields for trillion-link graphs (the link rows
    are narrow; page payloads never leave the extraction task)."""
    from history_collector_spark.queries.urls import canonicalize_url

    src = _write_html_warc_fixture(spark, sf_dir)
    blobs = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "pages*.warc*")
        .load(src)
        .select("content")
    )
    links = blobs.mapInPandas(
        _outlink_batches,
        schema=(
            "doc_id bigint, source string, ord bigint, url string,"
            " anchor string"
        ),
    )
    return (
        links.select(
            "doc_id",
            canonicalize_url(F.col("url")).alias("target"),
            "anchor",
        )
        .groupBy("target")
        .agg(
            F.count("*").alias("n_inlinks"),
            F.countDistinct("doc_id").alias("n_referrer_pages"),
            F.min("anchor").alias("anchor"),
        )
    )

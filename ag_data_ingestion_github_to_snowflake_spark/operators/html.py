"""HTML-to-text extraction, link extraction, and link-graph PageRank.

The WARC path (``operators/warc.py``) lands raw crawl records; the next
stage of a web-corpus pipeline is turning HTML payloads into training
text and a link graph. This module keeps the whole stage JVM-side:

- ``html_to_text`` / ``extract_links`` / ``extract_title`` are pure
  Column expressions — chains of ``regexp_replace`` / ``replace`` /
  ``regexp_extract_all`` built-ins, so they run inside whole-stage
  codegen with zero Python in the hot path. Every regex is written in
  the Java-regex/RE2 COMMON SUBSET (no lookaround, no backreferences,
  explicit ``[ \\t\\r\\n]`` instead of ``\\s``) so a DuckDB oracle can
  replay the extraction byte-for-byte.

- ``pagerank`` is the classic damped power iteration, but in FIXED-POINT
  INTEGER arithmetic: ranks are scaled BIGINTs, per-edge contributions
  are ``rank div out_deg``, and the damping step is
  ``(85 * sum) div 100``. Integer div/sum are order-independent and
  identical in every engine, so the result is bit-exact regardless of
  partition count — an ANSI-SQL oracle can replay N iterations as
  unrolled CTEs and hash-match. (Float PageRank sums are
  order-dependent across partitions and can never hash-match.)

Scale notes: each PageRank iteration is one join (edges ⋈ ranks, both
sides partitioned on the join key after the first shuffle) plus one
aggregation shuffle on ``dst``; ``localCheckpoint`` truncates lineage
per round like ``operators/graph.py``'s component loop, so the plan
does not grow with iterations. The rank table is O(nodes), edges are
never collected, and the driver sees nothing but the loop counter.

No counterpart exists in the reference (a single-pass REST-ETL script);
this is net-new capability the target workload (100 TB crawl curation)
needs alongside WARC ingestion.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Entity decode order matters: ``&amp;`` must be LAST so that
# ``&amp;lt;`` decodes to the literal text ``&lt;`` (standard HTML
# double-escaping), not to ``<``.
_ENTITIES: tuple[tuple[str, str], ...] = (
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&nbsp;", " "),
    ("&amp;", "&"),
)

# Java-regex/RE2 common subset (``(?is)`` flags are portable; ``\\s``
# is NOT — Java includes \x0B, RE2 does not — so whitespace is spelled
# out explicitly).
_SCRIPT_RE = r"(?is)<script\b[^>]*>.*?</script>"
_STYLE_RE = r"(?is)<style\b[^>]*>.*?</style>"
_COMMENT_RE = r"(?s)<!--.*?-->"
_TAG_RE = r"<[^>]+>"
_WS_RE = r"[ \t\r\n]+"
_HREF_RE = r'href="([^"]*)"'
_TITLE_RE = r"(?is)<title[^>]*>(.*?)</title>"


def html_to_text(col: Column | str) -> Column:
    """Strip script/style/comments/tags, decode the common entities,
    collapse whitespace. Pure built-ins — stays in codegen."""
    txt = F.col(col) if isinstance(col, str) else col
    # Removed blocks become a space (not ''), so adjacent words never
    # glue together; the final whitespace collapse normalizes.
    txt = F.regexp_replace(txt, _SCRIPT_RE, " ")
    txt = F.regexp_replace(txt, _STYLE_RE, " ")
    txt = F.regexp_replace(txt, _COMMENT_RE, " ")
    txt = F.regexp_replace(txt, _TAG_RE, " ")
    for ent, rep in _ENTITIES:
        txt = F.replace(txt, F.lit(ent), F.lit(rep))
    return F.trim(F.regexp_replace(txt, _WS_RE, " "))


def extract_links(col: Column | str) -> Column:
    """All ``href="..."`` targets, in document order (array<string>)."""
    txt = F.col(col) if isinstance(col, str) else col
    return F.regexp_extract_all(txt, F.lit(_HREF_RE), 1)


def extract_title(col: Column | str) -> Column:
    """First ``<title>`` body, entity-decoded and trimmed ('' if none)."""
    txt = F.col(col) if isinstance(col, str) else col
    title = F.regexp_extract(txt, _TITLE_RE, 1)
    for ent, rep in _ENTITIES:
        title = F.replace(title, F.lit(ent), F.lit(rep))
    return F.trim(F.regexp_replace(title, _WS_RE, " "))


def pagerank(
    nodes: DataFrame,
    edges: DataFrame,
    iterations: int = 5,
    node_col: str = "node",
    src: str = "src",
    dst: str = "dst",
    out_deg: str = "out_deg",
    scale: int = 10**12,
    damping_num: int = 85,
    damping_den: int = 100,
    checkpoint: bool = True,
) -> DataFrame:
    """Damped PageRank in exact fixed-point integer arithmetic.

    ``nodes`` has one row per node (column ``node_col``); ``edges`` has
    one row per directed edge with the emitting node's total out-degree
    precomputed in ``out_deg`` (so the per-edge contribution is a pure
    projection, no extra aggregation). Dangling nodes (out-degree 0)
    simply emit nothing — their mass leaks, which is the standard
    "remove dangling mass" variant and keeps every step exact.

    Update rule, all BIGINT (order-independent => engine-exact):

        rank'(v) = (1-d)*scale  +  (d_num * SUM over in-edges u->v of
                   (rank(u) div out_deg(u))) div d_den

    Returns ``(node, rank)`` with ``rank`` scaled by ``scale``.
    ``checkpoint`` truncates lineage per round (lazy localCheckpoint: the
    consumer's one action materializes every round); disable for plan
    tests.
    """
    if iterations < 0:
        raise ValueError("iterations must be >= 0")
    base_rank = (damping_den - damping_num) * scale // damping_den
    nodes = nodes.select(F.col(node_col).alias("node"))
    edges = edges.select(
        F.col(src).alias("src"),
        F.col(dst).alias("dst"),
        F.col(out_deg).alias("out_deg"),
    )
    ranks = nodes.select("node", F.lit(scale).cast("long").alias("rank"))
    for _ in range(iterations):
        contrib = (
            edges.join(ranks, edges["src"] == ranks["node"])
            .select("dst", F.expr("rank div out_deg").alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("s"))
        )
        ranks = (
            nodes.join(contrib, F.col("node") == F.col("dst"), "left")
            .select(
                "node",
                (
                    F.lit(base_rank).cast("long")
                    + F.expr(
                        f"({damping_num} * coalesce(s, 0L)) div {damping_den}"
                    )
                ).alias("rank"),
            )
        )
        if checkpoint:
            # Lazy: an eager checkpoint costs one job per round
            # (OPTIMIZATION_r14.md, pagerank_link_graph).
            ranks = ranks.localCheckpoint(eager=False)
    return ranks


def canonical_url(url: Column) -> Column:
    """Crawl-frontier URL canonicalization as one Column expression:
    lowercase scheme+host, scheme-DEFAULT port dropped (http:80 /
    https:443) while any other explicit port is kept — parse_url HOST
    hides the port, so it is recovered from AUTHORITY's ``:digits``
    tail; conflating ``host:8080`` with ``host`` would merge distinct
    origins on real crawl data. Fragment dropped, tracking params
    (utm_*) removed, remaining query params SORTED, trailing path
    slash stripped. Deduping on the canonical form is the step that
    keeps a 100 TB crawl from refetching the same page through URL
    aliases — map-side, whole-stage codegen, no Python.
    """
    scheme = F.lower(F.parse_url(url, F.lit("PROTOCOL")))
    host = F.lower(F.parse_url(url, F.lit("HOST")))
    # parse_url has no PORT part; the authority is [user@]host[:port].
    port = F.regexp_extract(
        F.coalesce(F.parse_url(url, F.lit("AUTHORITY")), F.lit("")),
        ":(\\d+)$",
        1,
    )
    default_port = F.when(scheme == "http", F.lit("80")).when(
        scheme == "https", F.lit("443")
    ).otherwise(F.lit(""))
    portsuf = F.when(
        (port != "") & (port != default_port), F.concat(F.lit(":"), port)
    ).otherwise(F.lit(""))
    path = F.regexp_replace(
        F.coalesce(F.parse_url(url, F.lit("PATH")), F.lit("")), "/$", ""
    )
    q = F.coalesce(F.parse_url(url, F.lit("QUERY")), F.lit(""))
    params = F.array_sort(
        F.filter(
            F.split(q, "&"),
            lambda p: (p != "") & ~p.startswith("utm_"),
        )
    )
    qcanon = F.array_join(params, "&")
    return F.concat(
        scheme,
        F.lit("://"),
        host,
        portsuf,
        path,
        F.when(qcanon != "", F.concat(F.lit("?"), qcanon)).otherwise(F.lit("")),
    )

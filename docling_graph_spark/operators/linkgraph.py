"""Host-level web link graph: outlink extraction + integer PageRank.

The reference (SylvainWT/docling-graph) has no crawl-graph notion — its
graph is entity/chunk-level per document.  At Common-Crawl scale the host
link graph is a first-class training-pipeline artifact (crawl
prioritization, spam/host quality scoring, PageRank-weighted sampling), so
the graft adds it over the same `(url, html)` pages relation the extraction
pipeline consumes.

Scale/determinism design:

* outlink extraction is one JVM `regexp_extract_all` over the payload in
  the scan stage — no Python row path, no shuffle;
* the host graph is a single map-side-combinable groupBy;
* PageRank uses INTEGER arithmetic only (ranks scaled by `scale`, per-edge
  contributions via exact integer division).  Integer addition is
  commutative and associative, so the result is bit-identical regardless of
  partitioning, task order, or engine — which is what lets a DuckDB oracle
  hash-match a distributed Spark run exactly (floating-point PageRank sums
  in shuffle order cannot guarantee that).  The deliberate simplifications
  vs textbook PageRank: dangling-host mass is dropped (not redistributed)
  and ranks are un-normalized — rank ORDER is unaffected, which is what the
  downstream consumers (sampling weights, crawl priorities) use.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..lineage import cut

# attrs may precede href; the mandatory SPACE right before `href=` stops
# the greedy prefix from latching onto attribute names that merely END in
# href (data-href, ng-href) — '<a href' itself matches with empty prefix
HREF_RE = r'<a[^>]* href="([^"]+)"'
HOST_RE = r"^https?://([^/]+)"

PAGERANK_SCALE = 1_000_000
DAMPING_NUM, DAMPING_DEN = 85, 100  # d = 0.85 as an exact rational

# Round CAPS for the convergence-adaptive iterative operators.  Each op
# runs until its state is pointwise stable (the exact fixpoint — stability
# of a deterministic synchronous iteration implies idempotence) or until
# the cap; the unrolled SQL oracles in queries.py are generated AT the cap,
# which replays the converged values exactly because post-convergence
# rounds are no-ops.  Caps are sized ~25% above the realized round counts
# measured on the test corpora (integer PageRank reaches its exact
# stationary point in 76 rounds at sf0.01 / 43 at sf0.1; coreness 11;
# BFS 5; LPA 11; SCC coloring 6).
PAGERANK_MAX_ROUNDS = 96
BFS_MAX_ROUNDS = 32
CORENESS_MAX_ROUNDS = 32
LPA_MAX_ROUNDS = 24
SCC_OUTER = 3
SCC_COLOR_CAP = 24
SCC_MEMBER_CAP = 24
SCC_TRIM_CAP = 6

# Components whose edge count fits this gate solve to their exact fixpoint
# inside ONE applyInPandas task (kernels/graph_fixpoint.py); larger
# components run the synchronous DataFrame rounds.  Measured per-task cost
# at the gate (200k edges): pagerank 0.4s (numpy-vectorized rounds, 83
# realized), bfs/walks ~1s, scc ~3s, coreness 3s, lpa 5s — a bounded
# straggler, with the synchronous path taking anything larger.
DEFAULT_MAX_GROUP_EDGES = 200_000
# Synchronous fallback: micro-rounds chained per lineage cut + convergence
# probe.  Amortizes the fixed per-stage scheduling cost over several
# rounds; probing only at block boundaries can overshoot the realized
# round count by at most the block size, which is value-invisible
# (post-stability rounds are no-ops).
SYNC_ROUNDS_PER_STAGE = 4


# whole <a ...> open tag carrying rel=nofollow (SEO-standard link-juice
# opt-out, also used for ugc/sponsored links since 2019): any rel value
# containing the nofollow token
NOFOLLOW_TAG_RE = '<a[^>]* rel="[^"]*nofollow[^"]*"[^>]*>'


def extract_outlinks(pages: DataFrame, url_col: str = "url",
                     html_col: str = "html",
                     skip_nofollow: bool = False) -> DataFrame:
    """(url, html) -> (url, src_host, dst_host, href), one row per anchor.

    Relative hrefs resolve to the page's own host; absolute http(s) hrefs
    to their own host.  Non-HTML payloads (e.g. PDF bytes) simply match no
    anchors.  Entirely codegen'd: decode + regexp + explode in the scan
    stage.

    ``skip_nofollow=True`` drops anchors whose tag carries
    rel="...nofollow..." BEFORE href extraction (crawl-graph convention:
    nofollow links carry no endorsement, so they should not contribute
    PageRank mass or anchor pairs) — implemented by blanking the matching
    tags with one extra regexp_replace, still scan-stage codegen."""
    src_host = F.regexp_extract(F.col(url_col), HOST_RE, 1)
    payload = f"CAST({html_col} AS STRING)"
    if skip_nofollow:
        payload = (f"regexp_replace({payload}, "
                   f"'{NOFOLLOW_TAG_RE}', '<a>')")
    hrefs = F.expr(f"regexp_extract_all({payload}, '{HREF_RE}', 1)")
    out = pages.select(url_col, src_host.alias("src_host"),
                       F.explode(hrefs).alias("href"))
    dst = F.when(
        F.col("href").rlike("^https?://"),
        F.regexp_extract("href", HOST_RE, 1),
    ).otherwise(F.col("src_host"))
    return out.select(url_col, "src_host", dst.alias("dst_host"), "href")


def host_link_graph(pages: DataFrame, url_col: str = "url",
                    html_col: str = "html",
                    skip_nofollow: bool = False) -> DataFrame:
    """Weighted host-level edge list: (src_host, dst_host, n_links)."""
    return (
        extract_outlinks(pages, url_col, html_col, skip_nofollow)
        .groupBy("src_host", "dst_host")
        .agg(F.count("*").alias("n_links"))
    )


def weakly_connected(edges: DataFrame, src: str = "src_host",
                     dst: str = "dst_host") -> DataFrame:
    """(host, comp) — weakly-connected component label (min member host)
    per node of the directed edge list.

    Every iterative link-graph recurrence here reads only a node's
    in/out-neighbors, so its global synchronous trajectory decomposes
    EXACTLY over these components — the partitioning key that lets the
    hybrid operators solve each component to its true fixpoint inside
    one Arrow task (kernels/graph_fixpoint.py) instead of paying one
    shuffle stage per round.  Reuses dedup.connected_components:
    driver union-find under its size gate, distributed min-label
    pointer jumping (adaptive, O(log diameter) rounds) above it."""
    from .dedup import connected_components

    if edges.isEmpty():
        return edges.sparkSession.createDataFrame(
            [], "host string, comp string")
    return (connected_components(edges, key_a=src, key_b=dst)
            .select(F.col("id").alias("host"),
                    F.col("component").alias("comp")))


def _annotated(edges: DataFrame, src: str, dst: str, weight,
               wcc: DataFrame | None) -> DataFrame:
    """(comp, u, v, w, _ce): edge list tagged with its component label
    and the component's edge count (the group-size routing signal)."""
    w = (F.col(weight).cast("long") if weight is not None
         else F.lit(1).cast("long"))
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"),
                     w.alias("w"))
    if wcc is None:
        wcc = weakly_connected(edges, src, dst)
    lab = wcc.select(F.col("host").alias("u"), "comp")
    ann = e.join(lab, "u")
    sizes = ann.groupBy("comp").agg(F.count("*").alias("_ce"))
    return ann.join(sizes, "comp")


def _until_stable(state: DataFrame, round_fn, fixed, cap: int,
                  rounds_per_stage: int = SYNC_ROUNDS_PER_STAGE
                  ) -> DataFrame:
    """Drive a synchronous iteration whose round_fn(state, round_idx)
    emits a ``_chg`` column (1 iff the node changed that round).

    ``fixed`` rounds replay exactly (the unrolled-oracle contract);
    otherwise rounds run until a block boundary where no node changed,
    capped.  Pointwise stability of a deterministic synchronous
    iteration implies idempotence, so stopping early is value-identical
    to running the full cap — which is why a static SQL oracle unrolled
    AT the cap hash-matches the adaptive run."""
    r = 0
    total = fixed if fixed is not None else cap
    while r < total:
        block = min(rounds_per_stage, total - r)
        for _ in range(block):
            r += 1
            state = round_fn(state, r)
        state = cut(state)
        if fixed is None and not (
                state.agg(F.sum("_chg")).collect()[0][0] or 0):
            break
    return state


def _pagerank_sync(e: DataFrame, scale: int, seeds: DataFrame | None,
                   fixed, cap: int) -> DataFrame:
    """Synchronous frontier-delta (personalized) PageRank over an
    (u, v, w) edge list — the giant-component fallback path.

    Instead of recomputing every node's in-sum each round, the state
    carries the accumulated contribution sum and each round sends only
    the per-edge contribution DELTAS of nodes whose rank changed last
    round: d(u,v) = floor85(r_t(u)) - floor85(r_{t-1}(u)).  Since
    floor-per-edge sums are exact integers, csum stays bit-identical to
    the dense recomputation while the join frontier SHRINKS as ranks
    stabilize — on a web graph the tail rounds touch a tiny fraction of
    nodes.  Per round: one equi-join of the edge list against the
    (shrinking) frontier + one map-side-combinable sum groupBy + one
    left join back into the state; lineage cut per block via
    lineage.cut (reliable-checkpoint aware)."""
    base = (15 * scale) // DAMPING_DEN
    outw = e.groupBy("u").agg(F.sum("w").alias("out_w"))
    ew = cut(e.join(outw, "u")
             .select(F.col("u").alias("e_src"), F.col("v").alias("e_dst"),
                     F.col("w").alias("e_w"), "out_w"))
    nodes = (e.select(F.col("u").alias("host"))
             .unionByName(e.select(F.col("v").alias("host"))).distinct())
    if seeds is None:
        nb = nodes.select("host", F.lit(1).cast("long").alias("is_seed"))
    else:
        seed_rel = seeds.select(F.col(seeds.columns[0]).alias("host")) \
            .withColumn("_s", F.lit(1))
        nb = (nodes.join(seed_rel, "host", "left")
              .select("host", F.coalesce("_s", F.lit(0)).cast("long")
                      .alias("is_seed")))
    st = cut(nb.select(
        "host", "is_seed",
        F.lit(0).cast("long").alias("prank"),
        (F.col("is_seed") * scale).cast("long").alias("rank"),
        F.lit(0).cast("long").alias("csum"),
        (F.col("is_seed") != 0).cast("long").alias("_chg"),
        F.lit(0).cast("long").alias("last_chg")))

    def rnd(cur: DataFrame, i: int) -> DataFrame:
        ch = cur.filter(F.col("_chg") == 1).select(
            F.col("host").alias("e_src"), "prank", "rank")
        # the per-edge product is widened to decimal(38,0) before the
        # integral divide (the same discipline as hits()): plain long
        # arithmetic would WRAP silently on 85 * rank * w once ranks
        # concentrate at web scale; the quotient is <= rank, so the
        # cast back to long is always safe.  The component-local kernel
        # guards the same hazard with arbitrary-precision fallback.
        d_new = F.expr(
            f"CAST((CAST({DAMPING_NUM} AS DECIMAL(38,0)) * rank * e_w)"
            f" div (CAST({DAMPING_DEN} AS DECIMAL(38,0)) * out_w)"
            f" AS LONG)")
        d_old = F.expr(
            f"CAST((CAST({DAMPING_NUM} AS DECIMAL(38,0)) * prank * e_w)"
            f" div (CAST({DAMPING_DEN} AS DECIMAL(38,0)) * out_w)"
            f" AS LONG)")
        delta = (ew.join(ch, "e_src")
                 .select(F.col("e_dst").alias("host"),
                         (d_new - d_old).alias("d"))
                 .groupBy("host").agg(F.sum("d").alias("d")))
        ncsum = F.col("csum") + F.coalesce(F.col("d"), F.lit(0))
        nrank = F.col("is_seed") * F.lit(base) + ncsum
        moved = nrank != F.col("rank")
        return (cur.join(delta, "host", "left")
                .select("host", "is_seed", F.col("rank").alias("prank"),
                        nrank.alias("rank"), ncsum.alias("csum"),
                        moved.cast("long").alias("_chg"),
                        F.when(moved, F.lit(i)).otherwise(F.col("last_chg"))
                        .alias("last_chg")))

    st = _until_stable(st, rnd, fixed, cap)
    nxt = rnd(st, 0)
    return (st.select("host", "rank", "is_seed", "last_chg")
            .join(nxt.select("host", F.col("_chg").alias("would_change")),
                  "host"))


def pagerank(edges: DataFrame, src: str = "src_host",
             dst: str = "dst_host", weight: str = "n_links",
             iterations: int | None = None,
             scale: int = PAGERANK_SCALE,
             max_rounds: int = PAGERANK_MAX_ROUNDS,
             wcc: DataFrame | None = None,
             max_group_edges: int = DEFAULT_MAX_GROUP_EDGES) -> DataFrame:
    """Integer weighted PageRank over a host edge list:
    (host, rank, would_change, last_chg).

    r_0(v) = scale;
    r_{t+1}(v) = floor(15*scale/100)
                 + sum over in-edges (u,v):
                     (85 * r_t(u) * w(u,v)) div (100 * W(u))
    with W(u) = total out-weight of u.  All operations are int64-exact
    (hosts*scale plus per-term products stay far below 2^63 for any
    realistic host count), so the fixpoint trajectory is engine- and
    partitioning-independent.

    With ``iterations=None`` (default) the recurrence runs to its EXACT
    stationary point, capped at ``max_rounds`` — ``would_change`` is 0
    everywhere iff the returned ranks ARE the fixpoint, and
    ``max(last_chg)`` is the realized round count both engines agree
    on.  An explicit ``iterations`` replays exactly that many rounds.

    Hybrid execution: the recurrence decomposes exactly over
    weakly-connected components (a node's update reads only in-edges),
    so components under ``max_group_edges`` solve to their fixpoint in
    ONE applyInPandas pass (kernels/graph_fixpoint.pagerank_component)
    while larger components run the synchronous frontier-delta rounds
    of :func:`_pagerank_sync` — the path a 100-TB crawl graph's giant
    component takes."""
    return _hybrid_rank(edges, src, dst, weight, None, iterations, scale,
                        max_rounds, wcc, max_group_edges).drop("is_seed")


_RANK_SCHEMA = ("host string, rank long, is_seed long, "
                "would_change long, last_chg long")


def _hybrid_rank(edges, src, dst, weight, seeds, fixed, scale, cap,
                 wcc, max_group_edges) -> DataFrame:
    """Shared hybrid driver for pagerank (seeds=None) and personalized
    pagerank: component-size split, local kernel below the gate,
    synchronous frontier-delta fallback above it."""
    if wcc is None:
        wcc = weakly_connected(edges, src, dst)
    ann = _annotated(edges, src, dst, weight, wcc)
    small = ann.filter(F.col("_ce") <= max_group_edges).drop("_ce")
    big = ann.filter(F.col("_ce") > max_group_edges)

    def solve(epdf, spdf):
        import pandas as pd

        from ..kernels import graph_fixpoint as gfx

        if epdf.empty:
            return pd.DataFrame(
                columns=["host", "rank", "is_seed",
                         "would_change", "last_chg"])
        el = [(u, v, int(w))
              for u, v, w in zip(epdf["u"], epdf["v"], epdf["w"])]
        seed_set = None if spdf is None else set(spdf["host"])
        res = gfx.pagerank_component(el, scale, fixed, cap, seed_set)
        flag = ((lambda n: 1) if seed_set is None
                else (lambda n: int(n in seed_set)))
        return pd.DataFrame(
            [(n, r, flag(n), wc, lc)
             for n, (r, wc, lc) in res.items()],
            columns=["host", "rank", "is_seed", "would_change",
                     "last_chg"])

    if seeds is None:
        out_small = small.groupBy("comp").applyInPandas(
            lambda pdf: solve(pdf, None), _RANK_SCHEMA)
    else:
        # the seed side derives comp from the SAME wcc relation as the
        # edge side — rename its grouping column so the cogroup is not
        # an ambiguous self-join (keys align by position, not name)
        seed_ann = (seeds.select(F.col(seeds.columns[0]).alias("host"))
                    .join(wcc, "host")
                    .select(F.col("comp").alias("scomp"), "host"))
        out_small = small.groupBy("comp").cogroup(
            seed_ann.groupBy("scomp")).applyInPandas(solve, _RANK_SCHEMA)
    if big.limit(1).isEmpty():
        return out_small
    big_e = big.select("u", "v", "w")
    out_big = _pagerank_sync(big_e, scale, seeds, fixed, cap) \
        .select("host", "rank", "is_seed", "would_change", "last_chg")
    return out_small.unionByName(out_big)


ANCHOR_RE = r'<a[^>]* href="([^"]+)"[^>]*>([^<]*)</a>'


def anchor_text_pairs(pages: DataFrame, url_col: str = "url",
                      html_col: str = "html") -> DataFrame:
    """(url, html) -> (src_host, dst_host, href, anchor): one row per
    anchor with its link text — the (anchor text, target) pair corpus used
    for retrieval/query-doc training data at crawl scale.

    Same scan-stage shape as extract_outlinks: two group extractions of the
    one anchor regex, zipped positionally (the i-th href belongs to the
    i-th anchor text), then exploded.  No Python row path, no shuffle."""
    src_host = F.regexp_extract(F.col(url_col), HOST_RE, 1)
    html_s = F.expr(f"CAST({html_col} AS STRING)")
    hrefs = F.regexp_extract_all(html_s, F.lit(ANCHOR_RE), 1)
    texts = F.regexp_extract_all(html_s, F.lit(ANCHOR_RE), 2)
    z = pages.select(
        src_host.alias("src_host"),
        F.explode(F.arrays_zip(hrefs.alias("href"),
                               texts.alias("anchor"))).alias("z"),
    )
    dst = F.when(
        F.col("z.href").rlike("^https?://"),
        F.regexp_extract(F.col("z.href"), HOST_RE, 1),
    ).otherwise(F.col("src_host"))
    return z.select("src_host", dst.alias("dst_host"),
                    F.col("z.href").alias("href"),
                    F.col("z.anchor").alias("anchor"))


def url_template(href: Column) -> Column:
    """Collapse a URL to its path template: scheme+host stripped, query/
    fragment dropped, every digit run replaced by ``{n}`` — so
    ``/doc/123`` and ``/doc/9`` both map to ``/doc/{n}``.  The standard
    crawl-frontier URL-pattern key (template mining: spot calendar/
    session/pagination traps, cap per-pattern fetch budgets, cluster
    near-identical CMS pages before content dedup).

    Every step is a portable regexp (Java ∩ RE2 ∩ DuckDB 'g'-flag
    semantics) so the oracle runs the literal same derivation.  Pure
    codegen expressions — no parse_url dialect edge cases."""
    path = F.regexp_replace(href, r"^https?://[^/]*", "")
    path = F.regexp_replace(path, r"[?#].*$", "")
    path = F.when(path == "", F.lit("/")).otherwise(path)
    return F.regexp_replace(path, "[0-9]+", "{n}")


def url_pattern_stats(pages: DataFrame, url_col: str = "url",
                      html_col: str = "html") -> DataFrame:
    """Per-template rollup over every outlink href in the corpus:
    (template, n_links, n_distinct_urls).  One scan-stage regexp pass +
    one map-side-combinable groupBy on the (low-cardinality) template —
    the shuffle moves templates, not URLs, so a 10^12-page crawl reduces
    to thousands of rows before the exchange."""
    html_s = F.expr(f"CAST({html_col} AS STRING)")
    links = pages.select(
        F.explode(F.regexp_extract_all(html_s, F.lit(HREF_RE), 1))
        .alias("href"))
    return (
        links.select(url_template(F.col("href")).alias("template"), "href")
        .groupBy("template")
        .agg(F.count("*").alias("n_links"),
             F.countDistinct("href").alias("n_distinct_urls"))
    )


def resolve_aliases(edges: DataFrame, alias_col: str = "alias",
                    target_col: str = "target",
                    max_rounds: int = 16) -> DataFrame:
    """Resolve url-alias chains to their final root: (alias, root, hops).

    ``edges`` is a function relation — exactly one outgoing (alias →
    target) row per alias — built from the two aliasing signals every
    crawl pipeline must fold before dedup/extraction: HTTP redirects
    (3xx chains recorded at fetch time) and ``<link rel="canonical">``
    declarations.  Chains are multi-hop (a redirects to b, b declares c
    canonical); consumers need the FINAL root per alias, or duplicate
    clusters silently split.

    Algorithm: pointer jumping / path doubling on the alias map itself —
    each round joins the mapping against its own targets and jumps
    ``target -> target's target``, halving remaining chain depth, so a
    depth-D chain resolves in ceil(log2 D) rounds of ONE equi-join each
    (same doubling idea as `dedup.connected_components`, but on a
    functional graph, so no min-label semilattice is needed).  The
    convergence probe (`any row jumped this round?`) is an O(1)-row
    driver aggregate; the relation itself never collects.  Cycles cannot
    occur in redirect/canonical data that decreases toward a root, but a
    malformed cycle is still safe: hops hits the round budget and the
    loop exits (no infinite recursion, unlike a recursive resolver).
    Lineage is truncated per round via lineage.cut (eager
    localCheckpoint, or reliable checkpoint() when configured) — the
    standard Spark iterative-loop pattern.
    """
    carry = [c for c in edges.columns if c not in (alias_col, target_col)]
    m = edges.select(
        F.col(alias_col).alias("alias"), F.col(target_col).alias("target"),
        F.lit(1).cast("long").alias("hops"), *carry,
    )
    m = cut(m, eager=True)
    for _ in range(max_rounds):
        nxt = m.select(F.col("alias").alias("t_alias"),
                       F.col("target").alias("t_target"),
                       F.col("hops").alias("t_hops"))
        jumped = (
            m.join(nxt, m.target == nxt.t_alias, "left")
            .select(
                "alias",
                F.coalesce("t_target", "target").alias("target"),
                (F.col("hops") + F.coalesce("t_hops", F.lit(0)))
                .alias("hops"),
                F.col("t_alias").isNotNull().alias("_jumped"),
                *carry,
            )
        )
        jumped = cut(jumped, eager=True)
        n_jumped = jumped.agg(
            F.sum(F.col("_jumped").cast("long"))).collect()[0][0] or 0
        m = jumped.drop("_jumped")
        if n_jumped == 0:
            break
    return m.select("alias", F.col("target").alias("root"), "hops", *carry)


def alias_resolution_stats(edges: DataFrame,
                           kind_col: str = "kind") -> DataFrame:
    """1-row summary gating the resolved alias map by content: edge/kind
    counts, root/chain-depth accounting, and the 48-bit md5-prefix
    checksum over every (alias -> root) pair — order-independent, so no
    global sort on either engine.  The edge kind rides through the
    resolution as a carried column, so the whole summary is ONE
    aggregation over the resolved map — no second pass over the edge
    relation and no 1-row crossJoin in the plan."""
    resolved = resolve_aliases(edges)
    pair_md5 = F.md5(F.concat(F.col("alias"), F.lit("->"), F.col("root"))
                     .cast("binary"))
    return resolved.agg(
        F.count("*").cast("long").alias("n_edges"),
        F.sum((F.col(kind_col) == "redirect").cast("long"))
        .cast("long").alias("n_redirect"),
        F.sum((F.col(kind_col) == "canonical").cast("long"))
        .cast("long").alias("n_canonical"),
        F.countDistinct("root").cast("long").alias("n_roots"),
        F.max("hops").cast("long").alias("max_hops"),
        F.sum("hops").cast("long").alias("sum_hops"),
        F.sum(F.conv(F.substring(pair_md5, 1, 12), 16, 10).cast("long"))
        .cast("long").alias("map_checksum"),
    )


# ---------------------------------------------------------------------------
# Triangle counting / clustering coefficient (degree-ordered orientation)
#
# The classic skew hazard: counting wedges at a hub host (every site links
# to cdn.example or a search portal) enumerates deg² pairs — 10^10 wedges
# for a 10^5-degree hub.  The standard fix (Suri-Vassilvitskii / Cohen)
# orients every undirected edge from the LOWER (degree, host) endpoint to
# the higher, then counts wedges only between out-neighbors: out-degree is
# bounded by O(sqrt(m)), so a hub generates wedges only toward the few
# hosts even better-connected than itself.  Everything is equi-joins and
# integer counts — deterministic across engines and partitionings.
# ---------------------------------------------------------------------------


def _oriented_edges(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """(u, v) per undirected simple edge, directed low→high (deg, host)."""
    und = (edges.filter(F.col(src) != F.col(dst))
           .select(F.least(src, dst).alias("a"),
                   F.greatest(src, dst).alias("b"))
           .distinct())
    deg = (und.select(F.col("a").alias("h"))
           .unionAll(und.select(F.col("b").alias("h")))
           .groupBy("h").agg(F.count("*").cast("long").alias("d")))
    e = (und.join(deg.select(F.col("h").alias("a"),
                             F.col("d").alias("da")), "a")
         .join(deg.select(F.col("h").alias("b"),
                          F.col("d").alias("db")), "b"))
    a_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b")))
    return e.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("v"))


def triangle_stats(edges: DataFrame, src: str = "src_host",
                   dst: str = "dst_host") -> DataFrame:
    """Per-host triangle participation: (host, degree, n_triangles).

    Every host with at least one undirected edge gets a row (zero
    triangles included), so the relation doubles as the degree table the
    local clustering coefficient 2T/(d(d-1)) reads off exactly — T and d
    are returned as exact integers rather than an IEEE ratio.

    Triangle identity: each triangle (u,v,w) has exactly one wedge at its
    (deg, host)-minimal vertex whose closing edge is oriented v→w, so the
    wedge⋈edge equi-join counts every triangle exactly once."""
    ori = _oriented_edges(edges, src, dst)
    deg = (ori.select(F.col("u").alias("h"))
           .unionAll(ori.select(F.col("v").alias("h")))
           .groupBy("h").agg(F.count("*").cast("long").alias("degree")))
    o2 = ori.select(F.col("u").alias("u2"), F.col("v").alias("w"))
    wedges = ori.join(o2, F.col("u") == F.col("u2")) \
        .filter(F.col("v") != F.col("w")).select("u", "v", "w")
    closing = ori.select(F.col("u").alias("v"), F.col("v").alias("w"))
    tri = wedges.join(closing, ["v", "w"])
    tri_counts = (tri.select(F.explode(F.array("u", "v", "w")).alias("h"))
                  .groupBy("h").agg(F.count("*").cast("long")
                                    .alias("n_triangles")))
    return (deg.join(tri_counts, "h", "left")
            .select(F.col("h").alias("host"), "degree",
                    F.coalesce(F.col("n_triangles"), F.lit(0))
                    .cast("long").alias("n_triangles")))


HITS_ITERATIONS = 4
HITS_SCALE = 1_000_000
HITS_MAX_ITERATIONS = 32

_HITS_SCHEMA = ("host string, hub long, auth long, "
                "would_change long, last_chg long")


def hits(edges: DataFrame, src: str = "src_host", dst: str = "dst_host",
         weight: str = "n_links", iterations: int | None = None,
         scale: int = HITS_SCALE,
         max_iterations: int = HITS_MAX_ITERATIONS,
         max_group_edges: int = DEFAULT_MAX_GROUP_EDGES) -> DataFrame:
    """Integer HITS hubs/authorities over a weighted host edge list:
    (host, hub, auth, would_change, last_chg).

    Kleinberg's mutual-reinforcement recurrence with the L2
    normalization replaced by exact max-normalization so the trajectory
    is engine/partitioning-independent integer math:

        a_t(v) = sum over in-edges (u,v): w(u,v) * h_{t-1}(u),
                 then rescaled to (a * scale) div max(a);
        h_t(u) = sum over out-edges (u,v): w(u,v) * a_t(v),
                 then rescaled the same way,

    with h_0 = a_0 = scale (a_0 feeds only round-1 change detection).

    With ``iterations=None`` (default) the recurrence runs to its EXACT
    pointwise-stable state, capped at ``max_iterations``: stability of
    a deterministic synchronous iteration implies idempotence, so the
    early stop is value-identical to running the full cap — the bridge
    that lets the cap-unrolled SQL oracle hash-match the adaptive run.
    ``would_change`` is 1 iff one more full iteration would move the
    node's (hub, auth) pair (0 everywhere iff the returned scores ARE
    the fixpoint — the integer max-rescale can in principle 2-cycle, in
    which case the cap truncates and would_change keeps that visible),
    and ``max(last_chg)`` is the realized iteration count both engines
    agree on.  An explicit ``iterations`` replays exactly that budget.

    Hybrid execution — but NOT the per-component split of
    :func:`pagerank`: the max-rescale divisor spans every node, so the
    recurrence does not decompose over components.  The sound local
    solve is the WHOLE graph in one Arrow task
    (kernels/graph_fixpoint.hits_graph, numpy-vectorized), taken when
    the total edge count fits ``max_group_edges``; above the gate the
    adaptive synchronous rounds of :func:`_hits_sync` run — one
    host-level join + one map-side-combinable sum per half-step, the
    max a scalar aggregate, per-block lineage cuts.  Scores live in
    [0, scale]; raw half-step sums widen to decimal(38,0) before the
    `* scale div max` rescale, so no realistic corpus overflows.  The
    reference (single-document, no corpus graph) has no analogue."""
    ew = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"),
                      F.col(weight).cast("long").alias("w"))
    if ew.limit(max_group_edges + 1).count() <= max_group_edges:
        def solve(pdf):
            import pandas as pd

            from ..kernels import graph_fixpoint as gfx

            if pdf.empty:
                return pd.DataFrame(
                    columns=["host", "hub", "auth", "would_change",
                             "last_chg"])
            el = [(u, v, int(w))
                  for u, v, w in zip(pdf["u"], pdf["v"], pdf["w"])]
            res = gfx.hits_graph(el, scale, iterations, max_iterations)
            return pd.DataFrame(
                [(n, h, a, wc, lc)
                 for n, (h, a, wc, lc) in res.items()],
                columns=["host", "hub", "auth", "would_change",
                         "last_chg"])

        return (ew.withColumn("_g", F.lit(0)).groupBy("_g")
                .applyInPandas(solve, _HITS_SCHEMA))
    return _hits_sync(ew, scale, iterations, max_iterations)


def _hits_sync(ew: DataFrame, scale: int, fixed, cap: int) -> DataFrame:
    """Adaptive synchronous HITS over an (u, v, w) edge list — the
    above-gate fallback.  State carries (hub, auth, _chg, last_chg);
    each round is two half-steps (edge join + partial-sum groupBy +
    scalar max + rescale join) plus one host-level change join against
    the previous state; `_until_stable` drives block-boundary stability
    checks with per-block lineage cuts."""
    nodes = cut(
        ew.select(F.col("u").alias("host"))
        .unionByName(ew.select(F.col("v").alias("host")))
        .distinct()
    )
    e = ew.select(F.col("u").alias("e_src"), F.col("v").alias("e_dst"),
                  F.col("w").alias("e_w"))

    def _normalize(raw: DataFrame, col: str) -> DataFrame:
        # pin the raw half-step: the max() scalar job and the rescale
        # join would otherwise each re-run the whole iteration chain
        raw = cut(raw)
        mx = raw.agg(F.max("_raw")).collect()[0][0] or 0
        if mx <= 0:
            return nodes.select(
                "host", F.lit(0).cast("long").alias(col))
        return (
            nodes.join(raw, "host", "left")
            .select("host", F.expr(
                f"CAST(coalesce(_raw, 0) AS DECIMAL(38,0)) "
                f"* {int(scale)} div {int(mx)}")
                .cast("long").alias(col))
        )

    def one_iteration(hub: DataFrame):
        a_raw = (
            e.join(hub, e.e_src == hub.host)
            .select(F.col("e_dst").alias("host"),
                    (F.col("e_w") * F.col("hub")).alias("_c"))
            .groupBy("host").agg(F.sum("_c").alias("_raw"))
        )
        auth = _normalize(a_raw, "auth")
        h_raw = (
            e.join(auth, e.e_dst == auth.host)
            .select(F.col("e_src").alias("host"),
                    (F.col("e_w") * F.col("auth")).alias("_c"))
            .groupBy("host").agg(F.sum("_c").alias("_raw"))
        )
        return _normalize(h_raw, "hub"), auth

    st = nodes.select(
        "host", F.lit(scale).cast("long").alias("hub"),
        F.lit(scale).cast("long").alias("auth"),
        F.lit(1).cast("long").alias("_chg"),
        F.lit(0).cast("long").alias("last_chg"))

    def rnd(cur: DataFrame, i: int) -> DataFrame:
        nh, na = one_iteration(cur.select("host", "hub"))
        nxt = nh.join(na, "host")
        moved = ((F.col("nxt.hub") != F.col("cur.hub"))
                 | (F.col("nxt.auth") != F.col("cur.auth")))
        return (cur.alias("cur").join(nxt.alias("nxt"), "host")
                .select("host", F.col("nxt.hub").alias("hub"),
                        F.col("nxt.auth").alias("auth"),
                        moved.cast("long").alias("_chg"),
                        F.when(moved, F.lit(i))
                        .otherwise(F.col("cur.last_chg"))
                        .alias("last_chg")))

    st = _until_stable(st, rnd, fixed, cap)
    nxt = rnd(st, 0)
    return (st.join(nxt.select("host", F.col("_chg")
                               .alias("would_change")), "host")
            .select("host", "hub", "auth", "would_change", "last_chg"))


_CORE_SCHEMA = ("host string, degree long, coreness long, "
                "would_change long, last_chg long")


def _coreness_sync(e: DataFrame, fixed, cap: int) -> DataFrame:
    """Synchronous h-index rounds over an (u, v, w) edge list — the
    giant-component fallback.  Per-round cost is one join of the
    (u,v)+(v,u) adjacency against the estimates plus one per-node
    window bounded by degree (a web-scale hub makes a heavy but
    partition-local group); lineage cut per block."""
    und = (e.filter(F.col("u") != F.col("v"))
           .select(F.least("u", "v").alias("a"),
                   F.greatest("u", "v").alias("b"))
           .distinct())
    adj = cut(und.select(F.col("a").alias("node"), F.col("b").alias("nbr"))
              .unionAll(und.select(F.col("b").alias("node"),
                                   F.col("a").alias("nbr"))))
    deg = adj.groupBy("node").agg(
        F.count("*").cast("long").alias("degree"))
    st = cut(deg.select("node", F.col("degree").alias("c"),
                        F.lit(1).cast("long").alias("_chg"),
                        F.lit(0).cast("long").alias("last_chg")))

    def rnd(cur: DataFrame, i: int) -> DataFrame:
        nb = (adj.join(cur.select(F.col("node").alias("nbr"),
                                  F.col("c").alias("nc")), "nbr")
              .select("node", "nc"))
        w = Window.partitionBy("node").orderBy(F.desc("nc"), "nc")
        h = (nb.withColumn("rn", F.row_number().over(w))
             .groupBy("node")
             .agg(F.max(F.least(F.col("rn").cast("long"), F.col("nc")))
                  .alias("h")))
        nc = F.least("c", "h")
        moved = nc < F.col("c")
        return (cur.join(h, "node")
                .select("node", nc.alias("c"),
                        moved.cast("long").alias("_chg"),
                        F.when(moved, F.lit(i)).otherwise(F.col("last_chg"))
                        .alias("last_chg")))

    st = _until_stable(st, rnd, fixed, cap)
    nxt = rnd(st, 0)
    return (deg.join(st.select("node", "c", "last_chg"), "node")
            .join(nxt.select("node", F.col("_chg").alias("would_change")),
                  "node")
            .select(F.col("node").alias("host"), "degree",
                    F.col("c").alias("coreness"), "would_change",
                    "last_chg"))


def coreness(edges: DataFrame, src: str = "src_host",
             dst: str = "dst_host", rounds: int | None = None,
             max_rounds: int = CORENESS_MAX_ROUNDS,
             wcc: DataFrame | None = None,
             max_group_edges: int = DEFAULT_MAX_GROUP_EDGES) -> DataFrame:
    """k-core decomposition of the undirected simple host graph:
    (host, degree, coreness, would_change, last_chg) via synchronous
    h-index iterations (Montresor et al. 2011, "Distributed k-core
    decomposition").

    c_0(v) = deg(v);  c_{t+1}(v) = min(c_t(v), H_t(v)) with H_t(v) the
    h-index of the neighbor estimates {c_t(u)} — the largest h such that
    at least h neighbors have estimate >= h.  The sequence decreases
    monotonically to the exact coreness.  With ``rounds=None`` the
    iteration runs to its fixpoint (capped at ``max_rounds``) —
    ``would_change`` is 0 everywhere iff the values ARE the coreness,
    and ``max(last_chg)`` is the realized round count; an explicit
    ``rounds`` replays exactly.  Hybrid execution as :func:`pagerank`:
    per-component local solve under the gate, synchronous rounds above
    it."""
    if wcc is None:
        wcc = weakly_connected(edges, src, dst)
    ann = _annotated(edges, src, dst, None, wcc)
    small = ann.filter(F.col("_ce") <= max_group_edges).drop("_ce")
    big = ann.filter(F.col("_ce") > max_group_edges)

    def solve(pdf):
        import pandas as pd

        from ..kernels import graph_fixpoint as gfx

        if pdf.empty:
            return pd.DataFrame(columns=["host", "degree", "coreness",
                                         "would_change", "last_chg"])
        el = list(zip(pdf["u"], pdf["v"]))
        res = gfx.coreness_component(el, rounds, max_rounds)
        return pd.DataFrame(
            [(n, d, c, wc, lc) for n, (d, c, wc, lc) in res.items()],
            columns=["host", "degree", "coreness", "would_change",
                     "last_chg"])

    out_small = small.groupBy("comp").applyInPandas(solve, _CORE_SCHEMA)
    if big.limit(1).isEmpty():
        return out_small
    return out_small.unionByName(
        _coreness_sync(big.select("u", "v", "w"), rounds, max_rounds))


WALKS_PER_NODE = 2
WALK_LENGTH = 6


def random_walks(edges: DataFrame, src: str = "src_host",
                 dst: str = "dst_host",
                 walks_per_node: int = WALKS_PER_NODE,
                 length: int = WALK_LENGTH,
                 wcc: DataFrame | None = None,
                 max_group_edges: int = DEFAULT_MAX_GROUP_EDGES
                 ) -> DataFrame:
    """DeepWalk-style walk corpus over the directed host graph
    (hybrid: a walk never leaves its start's weakly-connected
    component, so components under the gate emit their whole corpus in
    one Arrow task — kernels/graph_fixpoint.walks_component — and only
    oversized components pay the per-step synchronous joins of
    :func:`_walks_sync`):
    (start, walker, hops, path) — the training sentences for
    node-embedding models (Perozzi et al. 2014), made DETERMINISTIC:
    step t of walker w at node v moves to
    ``nbrs(v)[ md5(v:w:t) mod deg(v) ]`` with the neighbor list
    array_sort'ed, so any engine, partitioning or restart reproduces the
    identical corpus (replayable by a SQL oracle; the paper's uniform
    sampling is replaced by a fixed hash draw — the same corpus coverage
    properties, none of the nondeterminism).

    Plan shape of the sync fallback, per step: one equi-join of the
    frontier against the adjacency-array relation (host-level —
    broadcastable for the full web) + pure projections; dead ends simply
    stop extending.  Lineage is cut per step via lineage.cut."""
    if wcc is None:
        wcc = weakly_connected(edges, src, dst)
    ann = _annotated(edges, src, dst, None, wcc)
    small = ann.filter(F.col("_ce") <= max_group_edges).drop("_ce")
    big = ann.filter(F.col("_ce") > max_group_edges)

    def solve(pdf):
        import pandas as pd

        from ..kernels import graph_fixpoint as gfx

        if pdf.empty:
            return pd.DataFrame(columns=["start", "walker", "hops",
                                         "path"])
        res = gfx.walks_component(list(zip(pdf["u"], pdf["v"])),
                                  walks_per_node, length)
        return pd.DataFrame(
            [(s, wk, hops, path)
             for (s, wk), (hops, path) in res.items()],
            columns=["start", "walker", "hops", "path"])

    out_small = small.groupBy("comp").applyInPandas(
        solve, "start string, walker int, hops long, path string")
    if big.limit(1).isEmpty():
        return out_small
    return out_small.unionByName(
        _walks_sync(big.select("u", "v"), walks_per_node, length))


def _walks_sync(e: DataFrame, walks_per_node: int, length: int
                ) -> DataFrame:
    """Synchronous per-step walk extension over an (u, v) edge list —
    the giant-component fallback for :func:`random_walks`."""
    src, dst = "u", "v"
    edges = e
    adj = (edges.groupBy(src)
           .agg(F.array_sort(F.collect_set(F.col(dst))).alias("_nbrs"))
           .withColumnRenamed(src, "_adj_src")
           )
    adj = cut(adj)
    nodes = (
        edges.select(F.col(src).alias("host"))
        .unionByName(edges.select(F.col(dst).alias("host")))
        .distinct()
    )
    walkers = F.explode(F.array(
        *[F.lit(i) for i in range(walks_per_node)])).alias("walker")
    frontier = nodes.select(
        F.col("host").alias("start"), walkers,
        F.col("host").alias("_cur"), F.col("host").alias("path"),
        F.lit(0).cast("long").alias("hops"),
    )
    for step in range(length):
        h = F.conv(F.substring(F.md5(F.concat(
            F.col("_cur"), F.lit(":"), F.col("walker").cast("string"),
            F.lit(":"), F.lit(step).cast("string")).cast("binary")),
            1, 12), 16, 10).cast("long")
        nxt = F.when(
            F.size("_nbrs") > 0,
            F.element_at("_nbrs", (h % F.size("_nbrs") + 1).cast("int")))
        frontier = (
            frontier.join(adj, frontier._cur == adj._adj_src, "left")
            .select(
                "start", "walker",
                F.coalesce(nxt, F.col("_cur")).alias("_cur"),
                F.when(nxt.isNotNull(),
                       F.concat(F.col("path"), F.lit(">"), nxt))
                .otherwise(F.col("path")).alias("path"),
                (F.col("hops")
                 + nxt.isNotNull().cast("long")).alias("hops"),
            )
        )
        frontier = cut(frontier)
    return frontier.select("start", "walker", "hops", "path")


_BFS_INF = 1 << 62
_BFS_SCHEMA = ("host string, depth long, would_change long, "
               "last_chg long")


def _bfs_sync(e: DataFrame, seeds: DataFrame, fixed, cap: int
              ) -> DataFrame:
    """Synchronous frontier-delta multi-source BFS over an (u, v, w)
    edge list — the giant-component fallback.  Only nodes whose depth
    improved last round feed the propagation join (min-propagation is
    monotone, so skipping stable nodes is value-invisible); the
    frontier is one BFS layer, not the whole relation."""
    nodes = (e.select(F.col("u").alias("host"))
             .unionByName(e.select(F.col("v").alias("host"))).distinct())
    seed_rel = seeds.select(F.col(seeds.columns[0]).alias("host")) \
        .withColumn("_d", F.lit(0).cast("long"))
    st = cut(nodes.join(seed_rel, "host", "left")
             .select("host",
                     F.coalesce("_d", F.lit(_BFS_INF)).alias("d"),
                     F.col("_d").isNotNull().cast("long").alias("_chg"),
                     F.lit(0).cast("long").alias("last_chg")))
    ew = e.select(F.col("u").alias("e_src"), F.col("v").alias("e_dst"))

    def rnd(cur: DataFrame, i: int) -> DataFrame:
        fr = cur.filter(F.col("_chg") == 1).select(
            F.col("host").alias("e_src"), F.col("d").alias("sd"))
        prop = (ew.join(fr, "e_src")
                .groupBy(F.col("e_dst").alias("host"))
                .agg(F.min(F.col("sd") + 1).alias("pd")))
        nd = F.least("d", F.coalesce("pd", F.lit(_BFS_INF)))
        moved = nd < F.col("d")
        return (cur.join(prop, "host", "left")
                .select("host", nd.alias("d"),
                        moved.cast("long").alias("_chg"),
                        F.when(moved, F.lit(i)).otherwise(F.col("last_chg"))
                        .alias("last_chg")))

    st = _until_stable(st, rnd, fixed, cap)
    nxt = rnd(st, 0)
    return (st.select("host",
                      F.when(F.col("d") >= _BFS_INF, F.lit(-1))
                      .otherwise(F.col("d")).cast("long").alias("depth"),
                      "last_chg")
            .join(nxt.select("host", F.col("_chg").alias("would_change")),
                  "host")
            .select("host", "depth", "would_change", "last_chg"))


def crawl_depth(edges: DataFrame, seeds: DataFrame,
                src: str = "src_host", dst: str = "dst_host",
                rounds: int | None = None,
                max_rounds: int = BFS_MAX_ROUNDS,
                wcc: DataFrame | None = None,
                max_group_edges: int = DEFAULT_MAX_GROUP_EDGES
                ) -> DataFrame:
    """Multi-source BFS over the directed host graph: (host, depth,
    would_change, last_chg) — the crawl-frontier distance from a seed
    list (how many link hops a crawler starting at the seeds needs to
    discover each host).

    d_0 = 0 on seeds; d_{t+1}(v) = min(d_t(v), 1 + min over in-edges
    (u,v) of d_t(u)).  Depth is exact once converged (BFS layers only
    shrink monotonically); unreached hosts report -1.  With
    ``rounds=None`` the propagation runs to its fixpoint capped at
    ``max_rounds``; an explicit ``rounds`` replays exactly.  Hybrid
    execution as :func:`pagerank`; the synchronous fallback is
    frontier-delta (one BFS layer per join, not the full relation)."""
    if wcc is None:
        wcc = weakly_connected(edges, src, dst)
    ann = _annotated(edges, src, dst, None, wcc)
    small = ann.filter(F.col("_ce") <= max_group_edges).drop("_ce")
    big = ann.filter(F.col("_ce") > max_group_edges)
    # rename the seed side's grouping column: both sides derive comp
    # from the same wcc relation (cogroup keys align by position)
    seed_ann = (seeds.select(F.col(seeds.columns[0]).alias("host"))
                .join(wcc, "host")
                .select(F.col("comp").alias("scomp"), "host"))

    def solve(epdf, spdf):
        import pandas as pd

        from ..kernels import graph_fixpoint as gfx

        if epdf.empty:
            return pd.DataFrame(columns=["host", "depth", "would_change",
                                         "last_chg"])
        el = list(zip(epdf["u"], epdf["v"]))
        res = gfx.bfs_component(el, set(spdf["host"]), rounds, max_rounds)
        return pd.DataFrame(
            [(n, d, wc, lc) for n, (d, wc, lc) in res.items()],
            columns=["host", "depth", "would_change", "last_chg"])

    out_small = small.groupBy("comp").cogroup(
        seed_ann.groupBy("scomp")).applyInPandas(solve, _BFS_SCHEMA)
    if big.limit(1).isEmpty():
        return out_small
    return out_small.unionByName(
        _bfs_sync(big.select("u", "v", "w"), seeds, rounds, max_rounds))


_LPA_SCHEMA = ("host string, label string, community_size long, "
               "would_change long, last_chg long")


def _lpa_sync(e: DataFrame, fixed, cap: int) -> DataFrame:
    """Synchronous weighted LPA over an (u, v, w) edge list — the
    giant-component fallback.  Per-round plan: one equi-join of the
    symmetrized weighted adjacency against the label relation, a
    map-side-combinable (node, label) weight sum, and one max(struct)
    groupBy — no windows, no per-node lists."""
    und = (e.filter(F.col("u") != F.col("v"))
           .select(F.least("u", "v").alias("a"),
                   F.greatest("u", "v").alias("b"),
                   F.col("w").cast("long").alias("w"))
           .groupBy("a", "b").agg(F.sum("w").alias("w")))
    adj = cut(und.select(F.col("a").alias("node"),
                         F.col("b").alias("nbr"), "w")
              .unionAll(und.select(F.col("b").alias("node"),
                                   F.col("a").alias("nbr"), "w")))
    nodes = (e.select(F.col("u").alias("node"))
             .unionByName(e.select(F.col("v").alias("node"))).distinct())
    st = cut(nodes.select("node", F.col("node").alias("label"),
                          F.lit(1).cast("long").alias("_chg"),
                          F.lit(0).cast("long").alias("last_chg")))

    def rnd(cur: DataFrame, i: int) -> DataFrame:
        votes = (adj.join(cur.select(F.col("node").alias("nbr"),
                                     F.col("label").alias("nlbl")), "nbr")
                 .groupBy("node", "nlbl")
                 .agg(F.sum("w").alias("s"))
                 .groupBy("node")
                 .agg(F.max(F.struct(F.col("s"), F.col("nlbl")))
                      .alias("m"))
                 .select("node", F.col("m.nlbl").alias("new_label")))
        nl = F.coalesce("new_label", "label")
        moved = nl != F.col("label")
        return (cur.join(votes, "node", "left")
                .select("node", nl.alias("label"),
                        moved.cast("long").alias("_chg"),
                        F.when(moved, F.lit(i)).otherwise(F.col("last_chg"))
                        .alias("last_chg")))

    st = _until_stable(st, rnd, fixed, cap)
    nxt = rnd(st, 0)
    sizes = st.groupBy("label").agg(
        F.count("*").cast("long").alias("community_size"))
    return (st.select("node", "label", "last_chg")
            .join(nxt.select("node", F.col("_chg").alias("would_change")),
                  "node")
            .join(sizes, "label")
            .select(F.col("node").alias("host"), "label",
                    "community_size", "would_change", "last_chg"))


def label_propagation(edges: DataFrame, src: str = "src_host",
                      dst: str = "dst_host", weight: str = "n_links",
                      rounds: int | None = None,
                      max_rounds: int = LPA_MAX_ROUNDS,
                      wcc: DataFrame | None = None,
                      max_group_edges: int = DEFAULT_MAX_GROUP_EDGES
                      ) -> DataFrame:
    """Deterministic weighted label propagation (Raghavan et al. 2007)
    over the undirected host graph: (host, label, community_size,
    would_change) after ``rounds`` synchronous update steps — the
    community/site-cluster signal a crawl pipeline uses for mirror-farm
    detection and community-stratified sampling.

    l_0(v) = v; l_{t+1}(v) = the neighbor label with the largest total
    incident edge weight, ties broken by the lexicographically GREATEST
    label — the argmax is then exactly ``max(struct(weight, label))``,
    a single algebraic aggregate both engines order identically, so the
    full label trajectory is engine- and partitioning-independent and a
    fixed round count is replayable by an unrolled SQL oracle (classic
    asynchronous LPA is order-dependent and unreproducible by design;
    the synchronous variant trades convergence speed for determinism).
    Labels are host strings, so no label-id dictionary is needed.

    With ``rounds=None`` the labelling runs until stable, capped at
    ``max_rounds`` — synchronous LPA can 2-cycle on bipartite
    structures, so the cap may be exhausted without stabilizing, which
    ``would_change`` surfaces honestly; an explicit ``rounds`` replays
    exactly.  Community sizes count the final label per node; labels
    never cross weakly-connected components, so the per-component local
    solve computes them in-group.  Hybrid execution as
    :func:`pagerank`; the synchronous fallback plan is documented on
    :func:`_lpa_sync`."""
    if wcc is None:
        wcc = weakly_connected(edges, src, dst)
    ann = _annotated(edges, src, dst, weight, wcc)
    small = ann.filter(F.col("_ce") <= max_group_edges).drop("_ce")
    big = ann.filter(F.col("_ce") > max_group_edges)

    def solve(pdf):
        import pandas as pd

        from ..kernels import graph_fixpoint as gfx

        if pdf.empty:
            return pd.DataFrame(columns=["host", "label",
                                         "community_size",
                                         "would_change", "last_chg"])
        el = [(u, v, int(w))
              for u, v, w in zip(pdf["u"], pdf["v"], pdf["w"])]
        res = gfx.lpa_component(el, rounds, max_rounds)
        sizes: dict = {}
        for lab, _wc, _lc in res.values():
            sizes[lab] = sizes.get(lab, 0) + 1
        return pd.DataFrame(
            [(n, lab, sizes[lab], wc, lc)
             for n, (lab, wc, lc) in res.items()],
            columns=["host", "label", "community_size", "would_change",
                     "last_chg"])

    out_small = small.groupBy("comp").applyInPandas(solve, _LPA_SCHEMA)
    if big.limit(1).isEmpty():
        return out_small
    return out_small.unionByName(
        _lpa_sync(big.select("u", "v", "w"), rounds, max_rounds))


def strongly_connected(edges: DataFrame, src: str = "src_host",
                       dst: str = "dst_host", outer: int = SCC_OUTER,
                       rounds: int | None = None,
                       trim_rounds: int | None = None,
                       color_cap: int = SCC_COLOR_CAP,
                       member_cap: int = SCC_MEMBER_CAP,
                       trim_cap: int = SCC_TRIM_CAP,
                       wcc: DataFrame | None = None,
                       max_group_edges: int = DEFAULT_MAX_GROUP_EDGES
                       ) -> DataFrame:
    """Strongly connected components of the directed host graph:
    (host, scc, scc_size, assigned) — the decomposition behind the
    classic web "bowtie" analysis (Broder et al. 2000): the giant CORE
    is the largest SCC of the crawl graph, and mutually-unreachable
    host clusters never belong to one component.

    With ``rounds=None`` (default) every phase runs adaptively to
    stability, capped at ``color_cap``/``member_cap``/``trim_cap`` —
    max-propagation coloring is monotone on a finite set, so within the
    cap it reaches its true fixpoint and the root-soundness gate never
    truncates; an explicit ``rounds``/``trim_rounds`` replays those
    fixed phase budgets exactly (the unrolled-oracle contract).  Hybrid
    execution as :func:`pagerank`: components under ``max_group_edges``
    solve in one Arrow task (kernels/graph_fixpoint.scc_component —
    there the soundness gate applies per component, which is exact
    because components are independent sub-problems), larger ones run
    the synchronous phases below.

    The FB-trim / coloring family (Orzan; McLendon et al.), made
    synchronous and deterministic.  Each outer iteration (over
    still-unassigned nodes):
      0. TRIM: ``trim_rounds`` synchronous rounds remove every node
         with zero in-degree or zero out-degree in the active subgraph
         — each is its own singleton SCC.  Without this phase a
         tendril CHAIN peels one node per outer round (coloring's
         known worst case); with it, chains drain at one layer per
         trim round and the expensive coloring runs only on the
         cycle-rich remainder — exactly why production FB-style SCC
         codes always trim first;
      1. forward-propagates the MAX node id along edges for ``rounds``
         synchronous steps — color(v) = greatest active node that
         reaches v; a node whose color is itself is a root.  Root
         declaration is only sound on a CONVERGED coloring, so it is
         gated on global color stability (one extra round; colors are
         monotone, so pointwise stability everywhere == fixpoint): an
         unconverged iteration assigns nothing and its nodes stay
         honestly unassigned instead of surfacing as bogus singleton
         components;
      2. backward-propagates SCC membership from every root
         simultaneously: an edge (u, v) admits u into root r's
         component iff scc(v) = r AND color(u) = r (u reaches r
         through v, and r reaches u by the color certificate) — so
         members are exactly {v : color(v) = r and v reaches r}, the
         textbook invariant.
    All updates are min/max/coalesce folds over equi-joins — no
    windows, no per-node sets — and every intermediate state is a pure
    function of the round number, so a fixed (outer x rounds) budget is
    replayed exactly by the unrolled SQL oracle.  Nodes still
    unassigned after the budget are reported with scc='' (counted, not
    hidden); per-round lineage.cut truncation as the other
    iterative operators do.

    Plan per step: one equi-join of the active edge list against the
    label relation + one map-side-combinable max groupBy.  At web scale
    the active subgraph SHRINKS each outer round (the giant core and
    every singleton root resolve in round one), which is what makes the
    FB/coloring family the standard distributed SCC approach."""
    if wcc is None:
        wcc = weakly_connected(edges, src, dst)
    ann = _annotated(edges, src, dst, None, wcc)
    small = ann.filter(F.col("_ce") <= max_group_edges).drop("_ce")
    big = ann.filter(F.col("_ce") > max_group_edges)

    def solve(pdf):
        import pandas as pd

        from ..kernels import graph_fixpoint as gfx

        if pdf.empty:
            return pd.DataFrame(columns=["host", "scc", "scc_size",
                                         "assigned"])
        el = list(zip(pdf["u"], pdf["v"]))
        res = gfx.scc_component(el, outer, rounds, color_cap, rounds,
                                member_cap, trim_rounds, trim_cap)
        sizes: dict = {}
        for lab, asg in res.values():
            if asg:
                sizes[lab] = sizes.get(lab, 0) + 1
        return pd.DataFrame(
            [(n, lab, sizes.get(lab, 0), asg)
             for n, (lab, asg) in res.items()],
            columns=["host", "scc", "scc_size", "assigned"])

    out_small = small.groupBy("comp").applyInPandas(
        solve, "host string, scc string, scc_size long, assigned long")
    if big.limit(1).isEmpty():
        return out_small
    out_big = _scc_sync(big.select("u", "v", "w"), outer, rounds,
                        trim_rounds, color_cap, member_cap, trim_cap)
    return out_small.unionByName(out_big)


def _scc_sync(e: DataFrame, outer: int, rounds, trim_rounds,
              color_cap: int, member_cap: int, trim_cap: int
              ) -> DataFrame:
    """Synchronous FB-trim/coloring SCC over an (u, v, w) edge list —
    the giant-component fallback.  Phase recurrences are identical to
    kernels/graph_fixpoint.scc_component; the root-soundness gate here
    is GLOBAL over the processed subgraph (the fallback cannot see
    component boundaries), which only differs from the per-component
    gate when a coloring fails to converge within ``color_cap`` — a
    state the adaptive defaults never reach within cap at test scales
    and surface honestly as unassigned otherwise."""
    nodes = (e.select(F.col("u").alias("node"))
             .unionByName(e.select(F.col("v").alias("node")))
             .distinct())
    de = cut(e.filter(F.col("u") != F.col("v"))
             .select("u", "v").distinct())
    state = nodes.select("node", F.lit(None).cast("string").alias("scc"))

    c_rounds = rounds if rounds is not None else color_cap
    m_rounds = rounds if rounds is not None else member_cap
    t_rounds = trim_rounds if trim_rounds is not None else trim_cap

    for _ in range(outer):
        active = state.filter(F.col("scc").isNull()).select("node")
        start = active
        ae = cut(de.join(active.withColumnRenamed("node", "u"), "u",
                         "left_semi")
                 .join(active.withColumnRenamed("node", "v"), "v",
                       "left_semi"))
        for _t in range(t_rounds):
            # nodes with BOTH an out- and an in-edge in the active
            # subgraph, in one flag groupBy; the survivor set IS the
            # next active relation (isolated actives have no flags,
            # so they trim without a separate degree pass)
            flags = (ae.select(F.col("u").alias("node"),
                               F.lit(1).alias("o"), F.lit(0).alias("i"))
                     .unionAll(ae.select(F.col("v").alias("node"),
                                         F.lit(0).alias("o"),
                                         F.lit(1).alias("i")))
                     .groupBy("node")
                     .agg(F.max("o").alias("o"), F.max("i").alias("i")))
            nactive = cut(flags.filter((F.col("o") == 1)
                                       & (F.col("i") == 1))
                          .select("node"))
            if trim_rounds is None:
                # monotone shrink: equal counts == equal sets, so one
                # O(1)-row probe detects trim stability
                before = active.count()
                after = nactive.count()
                active = nactive
                ae = cut(ae.join(active.withColumnRenamed("node", "u"),
                                 "u", "left_semi")
                         .join(active.withColumnRenamed("node", "v"),
                               "v", "left_semi"))
                if after == before:
                    break
            else:
                active = nactive
                ae = cut(ae.join(active.withColumnRenamed("node", "u"),
                                 "u", "left_semi")
                         .join(active.withColumnRenamed("node", "v"),
                               "v", "left_semi"))
        trimmed = start.join(active, "node", "left_anti") \
            .select("node", F.col("node").alias("scc2"))
        color = active.select("node", F.col("node").alias("color"),
                              F.lit(1).cast("long").alias("_chg"),
                              F.lit(0).cast("long").alias("last_chg"))

        def color_round(cur: DataFrame, i: int) -> DataFrame:
            prop = (ae.join(cur.select(F.col("node").alias("u"),
                                       F.col("color").alias("uc")), "u")
                    .groupBy(F.col("v").alias("node"))
                    .agg(F.max("uc").alias("pc")))
            ncol = F.greatest("color", F.coalesce("pc", "color"))
            moved = ncol > F.col("color")
            return (cur.join(prop, "node", "left")
                    .select("node", ncol.alias("color"),
                            moved.cast("long").alias("_chg"),
                            F.when(moved, F.lit(i))
                            .otherwise(F.col("last_chg"))
                            .alias("last_chg")))

        color = _until_stable(color, color_round, rounds, c_rounds)
        # SOUNDNESS GATE: a root declared from a truncated coloring is
        # wrong (a 12-cycle under a 6-round budget would yield 12
        # "assigned" singletons).  The color certificates themselves
        # are one-sided-sound (color(v)=r proves r reaches v; the
        # backward pass proves v reaches r), so the only unsound step
        # is root declaration — gate it on color stability: one extra
        # round, and if ANY color still grows (colors are monotone),
        # assign nothing this outer iteration and leave the remainder
        # honestly unassigned.
        nxt_color = color_round(color, 0)
        conv = (nxt_color
                .agg(F.coalesce(F.max("_chg"), F.lit(0))
                     .alias("unstable")))
        mem = (color.crossJoin(F.broadcast(conv))
               .select("node",
                       F.when((F.col("unstable") == 0)
                              & (F.col("color") == F.col("node")),
                              F.col("node")).alias("scc2"),
                       F.lit(1).cast("long").alias("_chg"),
                       F.lit(0).cast("long").alias("last_chg")))
        # annotate each active edge with its source's final color ONCE
        # — every membership round then needs just one join + groupBy
        aec = cut(ae.join(color.select(F.col("node").alias("u"),
                                       F.col("color").alias("uc")), "u"))

        def member_round(cur: DataFrame, i: int) -> DataFrame:
            prop = (aec.join(cur.filter(F.col("scc2").isNotNull())
                             .select(F.col("node").alias("v"), "scc2"),
                             "v")
                    .filter(F.col("scc2") == F.col("uc"))
                    .groupBy(F.col("u").alias("node"))
                    .agg(F.max("scc2").alias("pscc")))
            nscc = F.coalesce("scc2", "pscc")
            moved = F.col("scc2").isNull() & nscc.isNotNull()
            return (cur.join(prop, "node", "left")
                    .select("node", nscc.alias("scc2"),
                            moved.cast("long").alias("_chg"),
                            F.when(moved, F.lit(i))
                            .otherwise(F.col("last_chg"))
                            .alias("last_chg")))

        mem = _until_stable(mem, member_round, rounds, m_rounds)
        assigned_new = (mem.filter(F.col("scc2").isNotNull())
                        .select("node", "scc2")
                        .unionByName(trimmed))
        state = cut(state.join(assigned_new, "node", "left")
                    .select("node",
                            F.coalesce("scc", "scc2").alias("scc")))

    sizes = (state.filter(F.col("scc").isNotNull())
             .groupBy("scc")
             .agg(F.count("*").cast("long").alias("scc_size")))
    return (state.join(sizes, "scc", "left")
            .select(F.col("node").alias("host"),
                    F.coalesce("scc", F.lit("")).alias("scc"),
                    F.coalesce("scc_size", F.lit(0)).cast("long")
                    .alias("scc_size"),
                    F.col("scc").isNotNull().cast("long")
                    .alias("assigned")))


def bowtie_classes(edges: DataFrame, scc: DataFrame,
                   src: str = "src_host", dst: str = "dst_host",
                   rounds: int | None = None,
                   max_rounds: int = BFS_MAX_ROUNDS,
                   wcc: DataFrame | None = None) -> DataFrame:
    """Broder bowtie taxonomy of the crawl graph (host, cls, out_depth,
    in_depth): CORE = the largest SCC, OUT = reachable FROM the core,
    IN = reaches INTO the core, other = tendrils/tubes/disconnected —
    the Broder et al. 2000 "Graph structure in the Web" decomposition
    that drives crawl-frontier budgeting (OUT pages can't lead back;
    IN pages are entry points).

    The core is picked deterministically from the ``scc`` relation
    (largest scc_size, ties to the greatest label — one max(struct)
    aggregate); both reachability sides REUSE :func:`crawl_depth`'s
    synchronous min-propagation with the core as the seed set, forward
    on the edge list for OUT and on the reversed edge list for IN, so
    depths are exact within the round budget and every value is
    engine-replayable.  A node marked both in and out but not core can
    only arise from a truncated SCC budget and is labelled 'inout'
    honestly rather than folded into a side."""
    best = (scc.filter(F.col("assigned") == 1)
            .select("scc", "scc_size").distinct()
            .agg(F.max(F.struct(F.col("scc_size"), F.col("scc")))
                 .alias("m"))
            .select(F.col("m.scc").alias("core_label")))
    tagged = scc.crossJoin(F.broadcast(best))
    seeds = tagged.filter(F.col("scc") == F.col("core_label")) \
        .select("host")
    out_d = crawl_depth(edges, seeds, src=src, dst=dst, rounds=rounds,
                        max_rounds=max_rounds, wcc=wcc) \
        .select("host", F.col("depth").alias("out_depth"))
    rev = edges.select(F.col(dst).alias(src), F.col(src).alias(dst))
    in_d = crawl_depth(rev, seeds, src=src, dst=dst, rounds=rounds,
                       max_rounds=max_rounds, wcc=wcc) \
        .select("host", F.col("depth").alias("in_depth"))
    cls = (F.when(F.col("scc") == F.col("core_label"), "core")
           .when((F.col("out_depth") >= 0) & (F.col("in_depth") >= 0),
                 "inout")
           .when(F.col("in_depth") >= 0, "in")
           .when(F.col("out_depth") >= 0, "out")
           .otherwise("other"))
    return (tagged.join(out_d, "host").join(in_d, "host")
            .select("host", cls.alias("cls"), "out_depth", "in_depth"))


def personalized_pagerank(edges: DataFrame, seeds: DataFrame,
                          src: str = "src_host", dst: str = "dst_host",
                          weight: str = "n_links",
                          iterations: int | None = None,
                          scale: int = PAGERANK_SCALE,
                          max_rounds: int = PAGERANK_MAX_ROUNDS,
                          wcc: DataFrame | None = None,
                          max_group_edges: int = DEFAULT_MAX_GROUP_EDGES
                          ) -> DataFrame:
    """Integer personalized PageRank: (host, rank, is_seed,
    would_change, last_chg) — teleport mass restarts ONLY at the seed
    set, so rank measures proximity to the seeds through the link
    graph.  This is the TrustRank family (Gyongyi et al. 2004): seeded
    at vetted hosts it demotes spam (spam farms get link mass but no
    trust mass); seeded at a topic hub it prioritizes a focused crawl
    frontier.

    Same exact-int64 recurrence as :func:`pagerank` with the base term
    restricted to seeds: r_0(v) = scale·[v ∈ seeds];
    r_{t+1}(v) = floor(15·scale/100)·[v ∈ seeds]
                 + Σ_{(u,v)} (85 · r_t(u) · w(u,v)) div (100 · W(u)).
    Hosts unreachable from the seeds stay at exactly 0 — the honest
    "no trust path" signal.  Convergence-adaptive and hybrid exactly as
    :func:`pagerank` (``iterations=None`` runs to the capped fixpoint;
    explicit values replay); the synchronous fallback shares
    :func:`_pagerank_sync`'s frontier-delta plan, where the seed flag
    rides the node relation with no extra shuffle."""
    return _hybrid_rank(edges, src, dst, weight, seeds, iterations,
                        scale, max_rounds, wcc, max_group_edges)

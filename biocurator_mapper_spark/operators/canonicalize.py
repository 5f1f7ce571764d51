"""Alias-graph canonicalization via connected components (SURVEY §2 J7).

The reference normalizes identifiers lexically only (``app/go_parser.py:
97-100``); the north rule requires canonicalizing surface forms / duplicate
CURIEs through the alias graph (term ↔ cross_reference edges, P5). One
ontology's alias graph is dimension-sized: ``canonical_rows`` runs a driver
union-find over the collected term rows (shared by ``canonical_mapping``
and ``build_triples``).

Corpus-sized graphs (the dedup pair graphs) go through
``connected_components``, whose big-input path is the alternating
**large-star / small-star** algorithm (Kiveris et al., "Connected
Components in MapReduce and Beyond") expressed as DataFrame self-joins:

- per-node minima come from ``groupBy(u).agg(min(v))`` — partial (map-side)
  aggregation absorbs hub-key skew before the shuffle;
- the min is joined back to the edge list (AQE skew-join splits any residual
  hot key) — no ``collect_list`` of neighborhoods, so a 10^8-degree hub node
  never materializes in one task;
- iterations converge in O(log d) rounds; each round is two shuffles.

The star loop checkpoints the normalized edges once before its first round
(it reads them every round) and every round after it, so the loop is
deterministic and the driver only ever sees per-round counts (never node
data). Callers need not cache the edges: the driver path reads them once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.dims import local_dim_df
from .mentions import collect_driver_rows


def _large_star(edges: DataFrame) -> DataFrame:
    bi = edges.select("src", "dst").union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    mins = bi.groupBy("src").agg(F.min("dst").alias("_mn"))
    mins = mins.select(
        "src", F.least(F.col("_mn"), F.col("src")).alias("_m")
    )
    return (
        bi.join(mins, "src")
        .where(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("_m").alias("dst"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    canon = edges.select(
        F.greatest("src", "dst").alias("a"), F.least("src", "dst").alias("b")
    )
    mins = canon.groupBy("a").agg(F.min("b").alias("_m"))
    via_b = (
        canon.join(mins, "a")
        .select(F.col("b").alias("src"), F.col("_m").alias("dst"))
    )
    via_a = mins.select(F.col("a").alias("src"), F.col("_m").alias("dst"))
    return via_b.union(via_a).where(F.col("src") != F.col("dst")).distinct()


def _driver_union_find(pairs: list[tuple[str, str]]) -> dict[str, str]:
    """Union-find over a broadcast-sized edge list (the fast path)."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for u, v in pairs:
        parent.setdefault(u, u)
        parent.setdefault(v, v)
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    # final pass: root then min-relabel (roots are already minima because
    # unions always point the larger root at the smaller)
    return {n: find(n) for n in parent}


# Below this many edges the whole alias graph fits comfortably on the driver
# (same judgement call as broadcasting a small join side): union-find beats
# iterative shuffles by orders of magnitude. Above it, the large-star/
# small-star loop takes over.
DRIVER_CC_MAX_EDGES = 1_000_000

# Round cap of the star loop; it converges in O(log d) rounds.
STAR_MAX_ROUNDS = 20


def connected_components(edges: DataFrame) -> DataFrame:
    """edges(src, dst) → (node, component) with component = min node id.

    Node ids are compared as their natural type (strings compare
    lexicographically, integers numerically). Self-loops and duplicates are
    tolerated.

    Broadcast-sized edge lists (≤ DRIVER_CC_MAX_EDGES; one limited collect
    both sizes and fetches) go to a driver union-find — an iterative
    shuffle loop on them wastes whole cluster rounds. Bigger graphs (the
    corpus-sized dedup pair graphs) run the large-star/small-star loop.
    """
    e = (
        edges.select("src", "dst")
        .where(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )
    spark = edges.sparkSession
    pairs_rows = e.limit(DRIVER_CC_MAX_EDGES + 1).collect()
    if len(pairs_rows) <= DRIVER_CC_MAX_EDGES:
        comp = _driver_union_find([(r.src, r.dst) for r in pairs_rows])
        # preserve the NODE ID TYPE: a hardcoded string schema made the
        # driver path crash on bigint ids the distributed path accepts
        # (size-dependent API behavior)
        from pyspark.sql.types import StructField, StructType

        node_type = e.schema["src"].dataType
        out_schema = StructType(
            [
                StructField("node", node_type),
                StructField("component", node_type),
            ]
        )
        return local_dim_df(spark, list(comp.items()), out_schema)
    # every round and the node list read the edges: materialize them once
    e = e.localCheckpoint(eager=True)
    all_nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    prev_sig: tuple[int, int] | None = None
    for _ in range(STAR_MAX_ROUNDS):
        # localCheckpoint truncates lineage — the star operators reference
        # their input twice, so without it the logical plan doubles per
        # round and overflows the analyzer stack by ~iteration 8.
        e = _small_star(_large_star(e)).localCheckpoint(eager=True)
        # convergence check: stable (count, xor-ish hash) signature.
        sig_row = e.agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(
                F.sum(F.hash("src", "dst").cast("long")), F.lit(0)
            ).alias("h"),
        ).collect()[0]
        sig = (sig_row["n"], sig_row["h"])
        if sig == prev_sig:
            break
        prev_sig = sig
    # final edge set is a forest of stars pointing at component minima
    comp = e.select(F.col("src").alias("node"), F.col("dst").alias("component"))
    return (
        all_nodes.join(comp, "node", "left")
        .select(
            "node",
            F.least(
                F.coalesce(F.col("component"), F.col("node")), F.col("node")
            ).alias("component"),
        )
        .distinct()
    )


def clusters_from_pairs(
    base: "DataFrame", pairs: "DataFrame", id_col: str
) -> "DataFrame":
    """(id, representative_id, is_duplicate) for every row of ``base``,
    given near-duplicate ``pairs(id_a, id_b)`` — connected components over
    the pair graph, every node mapped to its component minimum, unpaired
    rows mapping to themselves. The shared keep-one tail of
    ``dedup_clusters`` (text MinHash pairs) and ``emb_dedup_clusters``
    (embedding cosine pairs). Ids compare as their own type.

    NOT a pure plan builder (connected components collects the pairs, and
    past DRIVER_CC_MAX_EDGES iterates)."""
    cc = connected_components(
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    )
    mapped = cc.select(
        F.col("node").alias(id_col), F.col("component").alias("representative_id")
    )
    return (
        base.select(id_col)
        .join(mapped, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("representative_id"), F.col(id_col)).alias(
                "representative_id"
            ),
        )
        .withColumn("is_duplicate", F.col(id_col) != F.col("representative_id"))
    )


def best_representatives(
    base: "DataFrame",
    clusters: "DataFrame",
    id_col: str,
    score_col: str,
) -> "DataFrame":
    """QUALITY-AWARE keep-one over a ``clusters_from_pairs`` result: the
    representative of each duplicate cluster is the member with the
    highest ``score_col`` of ``base`` (ties → min id) instead of the min
    id — what a real curation pipeline wants when recaptures differ in
    quality (keep the cleanest extraction of a page, not the one that
    crawled first).

    ``score_col`` should be an INTEGER column: float scores make the
    argmax order-dependent near ties across engines.

    Physical shape: scores join on the bare id; the winner is two hash
    aggregations over the node-sized relation (max score per component,
    then min id among the maxima — type-agnostic where a negated-id struct
    max would constrain ids to numerics)."""
    comp = clusters.select(id_col, F.col("representative_id").alias("_comp"))
    scored = comp.join(base.select(id_col, score_col), id_col)
    smax = scored.groupBy("_comp").agg(F.max(score_col).alias("_smax"))
    winner = (
        scored.join(smax, "_comp")
        .where(F.col(score_col) == F.col("_smax"))
        .groupBy("_comp")
        .agg(F.min(id_col).alias("_rep"))
    )
    return (
        comp.join(winner, "_comp")
        .select(
            id_col,
            F.col("_rep").alias("representative_id"),
        )
        .withColumn("is_duplicate", F.col(id_col) != F.col("representative_id"))
    )


def canonical_rows(term_rows: list) -> list[tuple[str, str]]:
    """term rows → sorted (term_id, canonical_id) rows: terms connected
    through shared cross-references collapse to one canonical CURIE (the
    lexicographic min term id in the component); xref-less terms map to
    themselves. Rows need attribute access to ``term_id`` and
    ``cross_references``; null and empty xrefs add no edge.

    Xref values are namespaced with a sentinel prefix so they can never
    collide with (or win over) a real term id when taking component minima.
    """
    edges = [
        (r.term_id, f"xref:{x}")
        for r in term_rows
        for x in r.cross_references or []
        if x
    ]
    comp = _driver_union_find(edges)
    # components may be keyed by an xref node; re-key each component by its
    # minimum REAL term id
    term_ids = {r.term_id for r in term_rows}
    by_comp: dict[str, str] = {}
    for t in term_ids:
        c = comp.get(t)
        if c is not None:
            by_comp[c] = min(by_comp.get(c, t), t)
    return [(t, by_comp[comp[t]] if t in comp else t) for t in sorted(term_ids)]


def canonical_mapping(terms: DataFrame) -> DataFrame:
    """terms(term_id, cross_references) → (term_id, canonical_id) per
    ``canonical_rows``, as an Arrow-backed local relation. The alias graph
    of one ontology is dimension-sized: one bounded collect, then the same
    driver union-find ``build_triples`` uses."""
    rows = collect_driver_rows(
        terms.select("term_id", "cross_references"), "canonical_mapping terms"
    )
    return local_dim_df(
        terms.sparkSession,
        canonical_rows(rows),
        "term_id string, canonical_id string",
    )

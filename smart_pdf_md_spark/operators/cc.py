"""Connected components by iterative DataFrame joins (J3) + entity table.

GraphFrames is not installed (verified, SURVEY.md §2.3 J3), so this is the
classic label-propagation-to-minimum formulation (the "small-star"-style
min-label iteration of Kiveris et al., "Connected Components in MapReduce
and Beyond", SoCC 2014; the driver-local fast path is textbook union-find,
Tarjan 1975): every node's label
converges to the lexicographically smallest node id in its component. The
driver loop is the ONLY place control returns to the driver in the whole
pipeline (the fixpoint count — SURVEY.md §3.3); each round is checkpointed
to cut lineage, otherwise the plan would grow by two joins per iteration.

Determinism: labels are min() over strings — independent of partitioning,
join order, and parallelism. Entity IDs derive from the canonical (minimum)
name, never from monotonically_increasing_id(), so IDs are identical at N
and 4N parallelism (the scaling gate).

Convergence: label propagation to min needs O(diameter) rounds. Entity-link
components are tiny (name-variant clusters), so 2-4 rounds; `max_iter`
guards against adversarial chains, and hitting it raises rather than
silently emitting half-merged entities.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


# Edge sets at or below this size resolve on the driver via union-find (one
# collect instead of O(diameter) shuffle rounds); larger sets iterate
# distributed. Entity-link edge sets are vocabulary-bounded, so at any
# corpus size the distributed path only engages for genuinely huge vocabs.
LOCAL_CC_MAX_EDGES = 200_000


def _cc_local(rows: list) -> list[tuple[str, str]]:
    """Union-find with component label = lexicographic min node (identical
    to the distributed fixpoint's converged state by definition)."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for row in rows:
        a, b = row.name_a, row.name_b
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b
        ra, rb = find(a), find(b)
        if ra != rb:
            # union by label order keeps the min name at the root
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra
    return sorted((n, find(n)) for n in parent)


def connected_components(edges: DataFrame, max_iter: int = 25,
                         local_max_edges: int = LOCAL_CC_MAX_EDGES) -> DataFrame:
    """edges(name_a, name_b) → (name, component) with component = min name.

    Min-label propagation converges in O(diameter) rounds — the right trade
    for entity-variant graphs, whose components are tiny star-ish clusters
    (diameter ≤ 3 in practice). For adversarial long-chain graphs the
    O(log n)-round alternative is large-star/small-star (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC 2014); not needed
    for this workload and deliberately not implemented.

    Isolated nodes are the caller's concern (left-join the result and
    coalesce to the node itself) — keeps the iteration state minimal.
    Set ``local_max_edges=0`` to force the distributed fixpoint (parity
    pinned by `test_linking_scale.py::test_local_and_distributed_paths_agree`).
    """
    edges = edges.select("name_a", "name_b")
    probed = False
    if local_max_edges:
        # persist across the probe: without it, a big edge set pays the full
        # linking lineage TWICE — once for the limit-collect, once when the
        # distributed fixpoint re-reads edges (ADVICE r2). Columnar persist,
        # pruned to the two key columns, released as soon as `sym` is
        # checkpointed (or immediately on the local path).
        edges = edges.persist()
        probed = True
        head = edges.limit(local_max_edges + 1).collect()
        if len(head) <= local_max_edges:
            spark = edges.sparkSession
            edges.unpersist()
            labels = _cc_local(head)
            schema = "name string, component string"
            if not labels:
                return spark.createDataFrame([], schema)
            return spark.createDataFrame(labels, schema)
    # iteration state is edge/vocabulary-sized: keep its partition count
    # proportional (empty 32-way partitions would pay per-task overhead on
    # every one of the O(diameter) rounds)
    p = max(edges.sparkSession.sparkContext.defaultParallelism // 4, 1)
    sym = edges.select(
        F.col("name_a").alias("src"), F.col("name_b").alias("dst")
    ).union(
        edges.select(F.col("name_b").alias("src"), F.col("name_a").alias("dst"))
    ).distinct()
    sym = sym.coalesce(p).localCheckpoint(eager=True)
    if probed:
        edges.unpersist()  # sym is materialized; the probe cache is done

    labels = (
        sym.select(F.col("src").alias("name"))
        .distinct()
        .withColumn("component", F.col("name"))
        .coalesce(p)
        .localCheckpoint(eager=True)
    )

    for _ in range(max_iter):
        # min label among neighbors
        neighbor_min = (
            sym.join(labels, sym.src == labels.name)
            .groupBy(F.col("dst").alias("name"))
            .agg(F.min("component").alias("nbr_min"))
        )
        new_labels = (
            labels.join(neighbor_min, "name", "left")
            .select(
                "name",
                F.least(
                    F.col("component"),
                    F.coalesce(F.col("nbr_min"), F.col("component")),
                ).alias("component"),
                (F.col("nbr_min") < F.col("component")).alias("changed"),
            )
        ).coalesce(p).localCheckpoint(eager=True)  # cut lineage; one action per round
        n_changed = new_labels.filter(F.col("changed") == True).count()  # noqa: E712
        labels = new_labels.drop("changed")
        if n_changed == 0:
            return labels
    raise RuntimeError(f"connected_components did not converge in {max_iter} rounds")


def entity_table(mentions: DataFrame, edges: DataFrame,
                 names: DataFrame | None = None) -> DataFrame:
    """→ entities(name, canonical_name, entity_id, component_size).

    Every vocabulary name appears exactly once; singletons canonicalize to
    themselves. entity_id = sha256(canonical_name) prefix — content-derived,
    stable across runs and parallelism levels. Pass the same checkpointed
    vocabulary given to link_edges to avoid recomputing the extraction.
    """
    from .linking import checkpointed_vocabulary

    vocab = names if names is not None else checkpointed_vocabulary(mentions)
    comps = connected_components(edges)
    return (
        vocab.join(comps, "name", "left")
        .select(
            "name",
            F.coalesce(F.col("component"), F.col("name")).alias("canonical_name"),
        )
        .withColumn("entity_id", F.substring(F.sha2(F.col("canonical_name"), 256), 1, 16))
        .withColumn(
            "component_size",
            F.count("*").over(Window.partitionBy("canonical_name")),
        )
    )


def canonical_triples(triples: DataFrame, entities: DataFrame,
                      edges: DataFrame | None = None) -> DataFrame:
    """Rewrite symbol objects (and CALLS subjects) to canonical entity names.

    IMPORTS objects are modules, not symbols — left untouched. Both joins are
    broadcast: entity table and edge list are vocabulary-sized (small dims,
    J1-style).

    `conf` semantics when `edges` is given: 1.0 for objects that are already
    canonical; the TF-IDF cosine of the direct (raw, canonical) linking edge
    when one exists; 0.9 for transitive merges (linked through a third
    variant — confident but unscored).

    Input contract: `triples` is a SET — no two rows agree on (subj, pred,
    obj, file_id, repo, content_sha256) — which `triples_from_mentions`
    returns by default; `entities` is `entity_table` output (one row per
    name) and `edges` lists each linked pair once, as `link_edges` does.
    Under that contract the rewrite is injective except where two subject
    variants of one multi-member component canonicalize to the same name:
    each output row keeps pred, `obj_raw`, file_id, repo and
    content_sha256, and derives obj and entity_id (and conf, when `edges`
    is given) from `obj_raw`.
    So only CALLS rows whose subject lies in a component with
    `component_size > 1` can collide; those go through `distinct`, and the
    rest (IMPORTS, DEFINES, MENTIONS, singleton subjects) are unioned in
    unchanged, without a shuffle. The output equals `distinct()` of the
    row-wise rewrite (tested), and it is a set as well.
    """
    rows = _canonical_rows(triples, entities, edges)
    merged = rows.filter(F.col("_merge")).drop("_merge").distinct()
    return rows.filter(~F.col("_merge")).drop("_merge").unionByName(merged)


def _canonical_rows(triples: DataFrame, entities: DataFrame,
                    edges: DataFrame | None = None) -> DataFrame:
    """The row-wise rewrite behind `canonical_triples`, one output row per
    input row, plus a boolean `_merge`: true on the CALLS rows whose subject
    lies in a multi-member component — the only rows that can collide."""
    ent = F.broadcast(
        entities.select(
            F.col("name").alias("obj"),
            F.col("canonical_name"),
            F.col("entity_id"),
        )
    )
    sym = triples.filter(F.col("pred") != "IMPORTS")
    imp = triples.filter(F.col("pred") == "IMPORTS")
    sym_canon = (
        sym.join(ent, "obj", "left")
        .select(
            "subj", "pred",
            F.coalesce(F.col("canonical_name"), F.col("obj")).alias("obj"),
            F.col("obj").alias("obj_raw"),
            F.coalesce(
                F.col("entity_id"),
                F.substring(F.sha2(F.col("obj"), 256), 1, 16),
            ).alias("entity_id"),
            "file_id", "repo", "content_sha256", "conf",
        )
    )
    if edges is not None:
        e = edges.select(F.col("name_a").alias("obj_raw"),
                         F.col("name_b").alias("obj"),
                         F.col("cos").alias("_link_cos"))
        e = e.unionByName(
            edges.select(F.col("name_b").alias("obj_raw"),
                         F.col("name_a").alias("obj"),
                         F.col("cos").alias("_link_cos")))
        sym_canon = (
            sym_canon.join(F.broadcast(e), ["obj_raw", "obj"], "left")
            .withColumn(
                "conf",
                F.when(F.col("obj_raw") == F.col("obj"), F.lit(1.0))
                .otherwise(F.round(F.coalesce(F.col("_link_cos"), F.lit(0.9)), 4)),
            )
            .drop("_link_cos")
        )
    # CALLS subjects live in symbol space too (north_star: symbol→symbol) —
    # rewrite them through the same broadcast entity map. Module-level calls
    # carry a file-ref subj, which never matches the symbol vocabulary and
    # falls through coalesce untouched. conf stays obj-linking-scoped.
    subj_ent = F.broadcast(
        entities.select(F.col("name").alias("subj"),
                        F.col("canonical_name").alias("_subj_canon"),
                        F.col("component_size").alias("_subj_size"))
    )
    calls = F.col("pred") == "CALLS"
    sym_canon = (
        sym_canon.join(subj_ent, "subj", "left")
        .withColumn(
            "subj",
            F.when(calls, F.coalesce(F.col("_subj_canon"), F.col("subj")))
            .otherwise(F.col("subj")),
        )
        .withColumn("_merge",
                    calls & F.coalesce(F.col("_subj_size") > 1, F.lit(False)))
        .drop("_subj_canon", "_subj_size")
    )
    imp_canon = imp.select(
        "subj", "pred", "obj",
        F.col("obj").alias("obj_raw"),
        F.substring(F.sha2(F.col("obj"), 256), 1, 16).alias("entity_id"),
        "file_id", "repo", "content_sha256", "conf",
        F.lit(False).alias("_merge"),
    )
    return sym_canon.unionByName(imp_canon)

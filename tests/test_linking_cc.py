"""M3: MinHash+TF-IDF linking and connected-components canonicalization.

Golden components are known by construction: corpus.SYMBOL_GROUPS lists the
surface variants of each entity; canonicalization must merge exactly those
(no cross-group merges, no missed variants)."""

from __future__ import annotations

import pytest

from smart_pdf_md_spark.corpus import SYMBOL_GROUPS
from smart_pdf_md_spark.operators.cc import (
    canonical_triples,
    connected_components,
    entity_table,
)
from smart_pdf_md_spark.operators.linking import link_edges, name_vocabulary
from smart_pdf_md_spark.plans.pipeline import build_triples


@pytest.fixture(scope="module")
def plan(spark, corpus_sdf):
    p = build_triples(spark, corpus_sdf)
    p["mentions"].persist().count()
    return p


@pytest.fixture(scope="module")
def edges(spark, plan):
    e = link_edges(plan["mentions"])
    e.persist().count()
    return e


def test_edges_link_variant_groups(edges, plan):
    got = {(r.name_a, r.name_b) for r in edges.collect()}
    present = {r.name for r in name_vocabulary(plan["mentions"]).collect()}
    missing_links = []
    for group in SYMBOL_GROUPS:
        members = sorted(v for v in group if v in present)
        for i, a in enumerate(members):
            for b in members[i + 1 :]:
                # direct edge or 1-hop (via third variant) is fine — CC closes it
                direct = (a, b) in got or (b, a) in got
                via = any(
                    ((a, c) in got or (c, a) in got)
                    and ((b, c) in got or (c, b) in got)
                    for c in members if c not in (a, b)
                )
                if not (direct or via):
                    missing_links.append((a, b))
    assert not missing_links, f"unlinked variants: {missing_links}"


def test_no_cross_group_edges(edges):
    group_of = {v: i for i, g in enumerate(SYMBOL_GROUPS) for v in g}
    bad = [
        (r.name_a, r.name_b)
        for r in edges.collect()
        if group_of.get(r.name_a) is not None
        and group_of.get(r.name_b) is not None
        and group_of[r.name_a] != group_of[r.name_b]
    ]
    assert not bad, f"cross-group links: {bad}"


def test_connected_components_exact(spark):
    rows = [("a", "b"), ("b", "c"), ("x", "y"), ("p", "q"), ("q", "r"), ("r", "s")]
    edges = spark.createDataFrame(rows, ["name_a", "name_b"])
    comps = {r.name: r.component for r in connected_components(edges).collect()}
    assert comps == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x",
                     "p": "p", "q": "p", "r": "p", "s": "p"}


def test_entity_table_merges_golden_groups(plan, edges):
    ents = entity_table(plan["mentions"], edges)
    by_name = {r.name: (r.canonical_name, r.entity_id) for r in ents.collect()}
    for group in SYMBOL_GROUPS:
        present = [v for v in group if v in by_name]
        if len(present) < 2:
            continue
        canon = {by_name[v][0] for v in present}
        eids = {by_name[v][1] for v in present}
        assert len(canon) == 1, f"group {group} split into {canon}"
        assert len(eids) == 1
        # canonical name is the lexicographic minimum of the component
        assert min(present) == min(canon | set(present))


def test_canonical_subject_variants_collapse_to_one_row(spark):
    """Two subject variants of one component that CALLS the same object in
    the same file give exactly one canonical row; the same call from
    another file and a module-level call stay separate rows."""
    names = spark.createDataFrame(
        [("parse_file",), ("parseFile",), ("helper",)], "name string")
    edges = spark.createDataFrame([("parseFile", "parse_file", 0.95)],
                                  "name_a string, name_b string, cos double")
    ents = entity_table(None, edges, names=names)
    triples = spark.createDataFrame([
        ("parse_file", "CALLS", "helper", "f1", "r", "h1", 1.0, "01"),
        ("parseFile", "CALLS", "helper", "f1", "r", "h1", 1.0, "02"),
        ("parseFile", "CALLS", "helper", "f2", "r", "h2", 1.0, "03"),
        ("r/a.py", "CALLS", "helper", "f1", "r", "h1", 1.0, "04"),
    ], "subj string, pred string, obj string, file_id string, repo string, "
       "content_sha256 string, conf double, mention_id string")
    rows = canonical_triples(triples, ents, edges).collect()
    assert sorted((r.subj, r.file_id) for r in rows) == [
        ("parseFile", "f1"), ("parseFile", "f2"), ("r/a.py", "f1")]


def test_canonical_triples_equal_distinct_of_rowwise_rewrite(plan, edges):
    """On the fixture corpus, the scoped distinct over set-form triples
    gives exactly distinct() of the row-wise rewrite of the raw
    (row-per-mention) triples: same row set, same count."""
    from smart_pdf_md_spark.operators.cc import _canonical_rows
    from smart_pdf_md_spark.plans.pipeline import triples_from_mentions

    ents = entity_table(plan["mentions"], edges)
    raw = triples_from_mentions(plan["mentions"], distinct=False)
    want_df = _canonical_rows(raw, ents, edges).drop("_merge").distinct()
    got_df = canonical_triples(plan["triples"], ents, edges)
    cols = want_df.columns
    assert sorted(got_df.columns) == sorted(cols)
    got = [tuple(r[c] for c in cols) for r in got_df.collect()]
    want = [tuple(r[c] for c in cols) for r in want_df.collect()]
    assert len(got) == len(want)
    assert sorted(got) == sorted(want)
    # the scoped distinct is not vacuous: subject merges collide here
    merge = _canonical_rows(plan["triples"], ents, edges).filter("_merge")
    assert merge.count() > merge.distinct().count()


@pytest.mark.slow
def test_canonical_triples(plan, edges, spark):
    ents = entity_table(plan["mentions"], edges)
    canon = canonical_triples(plan["triples"], ents, edges)
    rows = canon.filter("pred = 'CALLS'").select("obj", "obj_raw").distinct().collect()
    # every canonical obj is the min variant of its group
    variant_to_canon = {}
    for g in SYMBOL_GROUPS:
        m = min(g)
        for v in g:
            variant_to_canon[v] = m
    for r in rows:
        if r.obj_raw in variant_to_canon:
            assert r.obj == variant_to_canon[r.obj_raw], (r.obj_raw, r.obj)
    # IMPORTS untouched
    imp = canon.filter("pred = 'IMPORTS'").select("obj", "obj_raw").distinct().collect()
    assert all(r.obj == r.obj_raw for r in imp)
    # entity ids are stable content hashes (16 hex chars)
    assert canon.filter("length(entity_id) != 16").count() == 0
    # conf semantics: 1.0 when obj unchanged; (0,1] cosine or 0.9 otherwise
    assert canon.filter("obj = obj_raw AND conf != 1.0").count() == 0
    assert canon.filter("conf <= 0 OR conf > 1.0").count() == 0
    assert canon.filter("obj != obj_raw AND conf < 0.5").count() == 0
    # rewrites exist and carry edge-derived confidence (separator-folded
    # variants score cosine 1.0; transitive merges get the 0.9 floor)
    assert canon.filter("obj != obj_raw").count() > 0
    assert canon.filter("obj != obj_raw AND conf < 0.9").count() == 0


@pytest.mark.slow
def test_hot_bucket_drop_is_counted_not_silent(spark):
    """ADVICE r1: capped band buckets must surface a metric. Names built as
    'ab'*k all share the 3-gram set {aba, bab} → identical MinHash signature
    → every band lands in one bucket of size 100 (> MAX_BUCKET=64), which is
    dropped AND counted."""
    from smart_pdf_md_spark.operators.linking import (
        LAST_DROP_METRICS,
        MAX_BUCKET,
        N_BANDS,
        candidate_pairs,
    )

    hot = [("ab" * k,) for k in range(2, 102)]  # 100 names, one gram set
    names = spark.createDataFrame(hot, ["name"])
    metrics: dict = {}
    pairs = candidate_pairs(names, metrics=metrics)
    assert pairs.count() == 0  # entire vocabulary was one hot bucket
    assert metrics["dropped_buckets"] == N_BANDS
    assert metrics["dropped_band_rows"] == N_BANDS * len(hot)
    assert LAST_DROP_METRICS == metrics
    assert len(hot) > MAX_BUCKET  # the fixture actually exceeds the cap

    # and a clean vocabulary reports zero drops
    clean = spark.createDataFrame([("alpha",), ("beta",), ("gamma",)], ["name"])
    m2: dict = {}
    candidate_pairs(clean, metrics=m2).count()
    assert m2 == {"dropped_buckets": 0, "dropped_band_rows": 0}

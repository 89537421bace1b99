"""The benchmark's workloads: how each one sets up, iterates, checks its
outputs and traces its layers. Every call into the program goes through the
package's public functions.

An iteration returns a dict with ``items`` (result rows the iteration
committed or materialized) and whatever its ``check`` needs; checks and
item counts run outside the timed region.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time
from contextlib import contextmanager

import inputs
from tracing import Spans, StatusStore

KG_STAGES = ["mentions", "triples", "edges", "entities", "triples_canonical"]
# (key columns, deps) of each stage commit, as run_kg passes them
STAGE_COMMITS = {
    "mentions": (["file_id", "kind", "name", "line"], None),
    "triples": (["subj", "pred", "obj"], ["mentions"]),
    "edges": (["name_a", "name_b"], ["mentions"]),
    "entities": (["name", "canonical_name"], ["mentions", "edges"]),
    "triples_canonical": (["subj", "pred", "obj", "file_id"],
                          ["triples", "entities", "edges"]),
}
BOARD_QUERIES = ["triangle_count", "curation_chunks", "dedup_ngram_jaccard",
                 "dedup_minhash_lsh", "bigram_logprob", "edge_pmi",
                 "dedup_paragraphs", "tfidf_keywords", "text_quality_score",
                 "span_coverage"]
HERE = os.path.dirname(os.path.abspath(__file__))


def expected(name: str, variant: int) -> dict:
    """Recorded outputs of one input variant (see record_expected.py)."""
    with open(os.path.join(HERE, f"expected_{name}.json")) as f:
        return json.load(f)[str(variant)]


class Tracer:
    """Wraps each layer call in a span and a job group and reads the
    group's stage metrics from the status store right after the call."""

    def __init__(self, spark):
        self.store = StatusStore(spark)
        self.spans = Spans()
        self.calls: dict[str, dict] = {}

    @contextmanager
    def layer(self, layer: str, step: str):
        name = f"{layer}.{step}"
        with self.spans.span(name) as rec, self.store.group(name):
            yield
        stats = self.store.read(name)
        stats["s"] = rec["end"] - rec["start"]
        stats["layer"] = layer
        self.calls[name] = stats

    def span(self, name: str):
        return self.spans.span(name)

    def call(self, name: str, key: str = "s") -> float:
        return self.calls.get(name, {}).get(key, 0.0)

    def layer_totals(self, layer: str) -> dict[str, float]:
        out: dict[str, float] = {}
        for st in self.calls.values():
            if st["layer"] == layer:
                for k, v in st.items():
                    if isinstance(v, (int, float)):
                        out[k] = out.get(k, 0.0) + v
        return out


def row_hash(rows: list[tuple]) -> str:
    """Order-independent multiset hash of rows. Numbers of any type hash by
    value (integral values as integers, others at 6 decimals), so Spark,
    parquet and DuckDB results of one query hash alike."""
    def canon(v) -> str:
        if v is None:
            return "∅"
        if isinstance(v, (str, bool)):
            return str(v)
        if isinstance(v, (list, tuple)):
            return "[" + ",".join(canon(x) for x in v) + "]"
        if hasattr(v, "isoformat"):
            return v.isoformat()
        try:
            f = float(v)
        except TypeError:
            return str(v)
        return str(int(f)) if f.is_integer() and abs(f) < 2**53 \
            else format(round(f, 6) + 0.0, ".6f")
    acc = 0
    for r in rows:
        key = "\x1f".join(canon(v) for v in r).encode()
        acc = (acc + int.from_bytes(
            hashlib.blake2b(key, digest_size=8).digest(), "big")) % 2**64
    return f"{acc:016x}"


def parquet_hash(path: str) -> dict:
    """Row count and order-independent hash of a parquet result, with its
    columns in name order."""
    import pyarrow.parquet as pq
    t = pq.read_table(path)
    t = t.select(sorted(t.column_names))
    rows = list(zip(*(c.to_pylist() for c in t.columns)))
    return {"rows": len(rows), "hash": row_hash(rows)}


def _dir_stats(path: str) -> tuple[float, int]:
    size = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(root, n))
            files += 1
    return size / (1024 * 1024), files


def kg_layers(spark, files, run_dir: str, tr: Tracer) -> tuple[dict, list]:
    """The KG stage graph of run_kg driven one public layer call at a time,
    each materialized at its boundary: source scan and routing split
    (probes), then extract, triples, vocabulary + link, entities and
    canonical triples, each stage committed with run_kg's keys and deps and
    read back from the commit by the stages after it, as run_kg does; last,
    a re-read of the committed mentions. Returns (result, persisted frames
    for the caller to release)."""
    from smart_pdf_md_spark.operators.cc import canonical_triples, entity_table
    from smart_pdf_md_spark.operators.extract import (
        ensure_mention_schema,
        mentions_only,
    )
    from smart_pdf_md_spark.operators.linking import (
        checkpointed_vocabulary,
        link_edges,
    )
    from smart_pdf_md_spark.plans.manifests import commit_stage, read_stage
    from smart_pdf_md_spark.plans.pipeline import (
        build_mentions,
        triples_from_mentions,
    )
    from smart_pdf_md_spark.operators.routing import route_col, textuality_cols
    from smart_pdf_md_spark.sources.tables import with_identity

    kept: list = []

    def keep(df):
        df = df.persist()
        kept.append(df)
        return df

    def commit(stage: str, df):
        keys, deps = STAGE_COMMITS[stage]
        with tr.layer("manifests", f"commit.{stage}"):
            return commit_stage(df, run_dir, stage, keys, deps=deps)

    out: dict = {}
    with tr.layer("sources", "scan"):
        src = keep(with_identity(files))
        out["rows_in"] = src.count()
    with tr.layer("routing", "route"):
        out["routes"] = {r["route"]: r["count"] for r in
                         route_col(textuality_cols(src))
                         .groupBy("route").count().collect()}
    with tr.span("kg_layers"):
        with tr.layer("extract", "extract"):
            extracted = keep(build_mentions(spark, files))
            extracted.count()
        mentions = mentions_only(ensure_mention_schema(
            commit("mentions", extracted)))
        with tr.layer("pipeline", "triples"):
            triples = keep(triples_from_mentions(mentions))
            out["triples"] = triples.count()
        triples = commit("triples", triples)
        with tr.layer("linking", "vocab"):
            names = checkpointed_vocabulary(mentions)
        with tr.layer("linking", "link"):
            edges = keep(link_edges(mentions, names=names))
            out["n_edges"] = edges.count()
        edges = commit("edges", edges)
        with tr.layer("cc", "entities"):
            ents = keep(entity_table(mentions, edges, names=names))
            ents.count()
        ents = commit("entities", ents)
        with tr.layer("cc", "canon"):
            canon = keep(canonical_triples(triples, ents, edges))
            out["items"] = canon.count()
        commit("triples_canonical", canon)
    with tr.layer("manifests", "read"):
        read_stage(spark, run_dir, "mentions").count()
    out.update(extracted=extracted, names=names, edges=edges, entities=ents,
               mentions=mentions, run_dir=run_dir)
    return out, kept


def _release(kept: list) -> None:
    for df in kept:
        df.unpersist()


def layer_metrics(tr: Tracer, res: dict, edge_drops: dict) -> dict:
    """Per-layer metrics from a ``kg_layers`` result (counts are taken
    here, after the traced calls). ``edge_drops`` is what run_kg's
    ``on_stage`` hook reported for the edges stage."""
    from pyspark.sql import functions as F

    from smart_pdf_md_spark.operators.cc import LOCAL_CC_MAX_EDGES
    from smart_pdf_md_spark.operators.extract import file_status
    from smart_pdf_md_spark.operators.linking import (
        LOCAL_LINK_MAX_VOCAB,
        candidate_pairs,
    )
    from smart_pdf_md_spark.plans.pipeline import triples_from_mentions

    status = file_status(res["extracted"])
    files_in = status.count()
    failed = status.filter(F.col("rc") != 0).count()
    n_names = res["names"].count()
    distributed = n_names > LOCAL_LINK_MAX_VOCAB
    # candidate pairs exist only on the distributed path; the driver-local
    # path reports its drops through run_kg's on_stage hook
    drops = dict(edge_drops)
    n_cand = candidate_pairs(res["names"], metrics=drops).count() \
        if distributed else 0
    stats = [_dir_stats(os.path.join(res["run_dir"], s)) for s in KG_STAGES]
    routes = res["routes"]
    m = {
        "sources.scan_s": tr.call("sources.scan"),
        "sources.rows_in": res["rows_in"],
        "routing.ast_files": routes.get("ast", 0),
        "routing.regex_files": routes.get("regex", 0),
        "routing.skip_files": routes.get("skip", 0),
        "extract.wall_s": tr.call("extract.extract"),
        "extract.files_in": files_in,
        "extract.mentions_out": res["mentions"].count(),
        "extract.failed_files": failed,
        "extract.ok_ratio": (files_in - failed) / max(files_in, 1),
        "pipeline.triples_s": tr.call("pipeline.triples"),
        "pipeline.triples_raw":
            triples_from_mentions(res["mentions"], distinct=False).count(),
        "pipeline.triples_out": res["triples"],
        "pipeline.shuffle_mb": tr.call("pipeline.triples", "shuffle_mb"),
        "linking.vocab_s": tr.call("linking.vocab"),
        "linking.link_s": tr.call("linking.link"),
        "linking.vocab_names": n_names,
        "linking.distributed": int(distributed),
        "linking.candidate_pairs": n_cand,
        "linking.edges": res["n_edges"],
        "linking.accept_ratio": res["n_edges"] / n_cand if n_cand else 0.0,
        "linking.dropped_buckets": drops.get("dropped_buckets", 0),
        "linking.dropped_band_rows": drops.get("dropped_band_rows", 0),
        "linking.shuffle_mb": tr.layer_totals("linking").get("shuffle_mb", 0),
        "linking.jobs": tr.layer_totals("linking").get("jobs", 0),
        "cc.entities_s": tr.call("cc.entities"),
        "cc.canon_s": tr.call("cc.canon"),
        "cc.edges_in": res["n_edges"],
        "cc.components":
            res["entities"].select("canonical_name").distinct().count(),
        "cc.distributed": int(res["n_edges"] > LOCAL_CC_MAX_EDGES),
        "cc.jobs": tr.layer_totals("cc").get("jobs", 0),
        "cc.canonical_triples": res["items"],
        "cc.canon_shuffle_mb": tr.call("cc.canon", "shuffle_mb"),
        "manifests.commit_s": sum(tr.call(f"manifests.commit.{s}")
                                  for s in KG_STAGES),
        "manifests.written_mb": sum(mb for mb, _ in stats),
        "manifests.files_written": sum(n for _, n in stats),
        "manifests.read_s": tr.call("manifests.read"),
    }
    return m


def group_metrics(tr: Tracer, layers: list[str]) -> dict:
    out = {}
    for layer in layers:
        t = tr.layer_totals(layer)
        out[f"{layer}.exec_cpu_s"] = t.get("exec_cpu_s", 0.0)
        out[f"{layer}.spill_mb"] = t.get("spill_mb", 0.0)
        out[f"{layer}.gc_s"] = t.get("gc_s", 0.0)
    return out


class Workload:
    """Base: one iteration per ``iteration`` call into a fresh run dir."""

    name = ""

    def __init__(self, work: str, seed: int):
        self.work = work
        self.seed = seed
        self._n = 0

    def run_dir(self) -> str:
        self._n += 1
        d = os.path.join(self.work, "runs", f"{self.name}_{os.getpid()}",
                         f"it{self._n}")
        shutil.rmtree(d, ignore_errors=True)
        return d


class KgBuild(Workload):
    """Fresh ``run_kg`` into an empty run dir."""

    name = "kg_build"

    def __init__(self, work: str, seed: int):
        super().__init__(work, seed)
        self.path = inputs.kg_corpus(os.path.join(work, "inputs"), seed)
        self.base_path = inputs.kg_append_base(os.path.join(work, "inputs"),
                                               seed)

    def start(self, spark) -> None:
        self.spark = spark
        self.files = spark.read.parquet(self.path)

    def iteration(self) -> dict:
        from smart_pdf_md_spark.plans.driver import run_kg
        rd = self.run_dir()
        run_kg(self.spark, self.files, rd)
        return {"run_dir": rd}

    def digests(self, out: dict) -> dict[str, dict]:
        """Rows and partitioning-invariant digest of each committed stage."""
        from smart_pdf_md_spark.plans.manifests import stage_global_digest
        if "digests" not in out:
            out["digests"] = {}
            for s in KG_STAGES:
                rows, digest = stage_global_digest(self.spark, out["run_dir"],
                                                   s)
                out["digests"][s] = {"rows": rows, "digest": f"{digest:016x}"}
        return out["digests"]

    def items(self, out: dict) -> int:
        return self.digests(out)["triples_canonical"]["rows"]

    def check(self, out: dict, first: bool) -> list[str]:
        """Every stage's rows and digest equal the values recorded for this
        input variant in expected_kg.json; on a session's first iteration,
        the lineage invariant holds too."""
        want = expected("kg", inputs.kg_variant(self.seed))
        errs = [f"stage {s}: got {v} want {want.get(s)}"
                for s, v in self.digests(out).items() if v != want.get(s)]
        if first:
            errs += self._lineage(out["run_dir"])
        return errs

    def _lineage(self, run_dir: str) -> list[str]:
        """Every committed mention's content_sha256 is the sha256 of its
        source content (computed here with hashlib, not by the program)."""
        import pandas as pd

        from smart_pdf_md_spark.plans.manifests import read_stage
        src = pd.read_parquet(self.path, columns=["repo", "path", "content"])
        want = {(r, p): hashlib.sha256(c.encode("utf-8")).hexdigest()
                for r, p, c in zip(src["repo"], src["path"], src["content"])}
        got = read_stage(self.spark, run_dir, "mentions") \
            .select("repo", "path", "content_sha256").distinct().collect()
        bad = sum(want.get((r["repo"], r["path"])) != r["content_sha256"]
                  for r in got)
        seen = {(r["repo"], r["path"]) for r in got}
        errs = []
        if bad:
            errs.append(f"lineage: {bad} committed files with a wrong sha256")
        if seen != set(want):
            errs.append(f"lineage: {len(set(want) - seen)} source files "
                        f"missing from the mentions stage")
        return errs

    def trace(self, tr: Tracer) -> tuple[dict, list[str]]:
        """Traced run_kg (stage spans from on_stage), the layer-by-layer
        drive, and the incremental append path checked against it."""
        from smart_pdf_md_spark.plans.driver import extract_incremental, run_kg
        from smart_pdf_md_spark.plans.manifests import (
            pending_inputs,
            verify_stage_digests,
        )
        from smart_pdf_md_spark.sources.tables import with_identity

        spark = self.spark
        stage_s: dict[str, float] = {}
        stage_metrics: dict[str, dict] = {}
        clock = [0.0]

        def on_stage(stage, resumed, metrics=None):
            now = time.perf_counter()
            stage_s[stage] = now - clock[0]
            stage_metrics[stage] = metrics or {}
            clock[0] = now

        fresh = self.run_dir()
        with tr.span("driver.run_kg"):
            clock[0] = time.perf_counter()
            run_kg(spark, self.files, fresh, on_stage=on_stage)
        out = {"run_dir": fresh}
        self.items(out)
        errs = self.check(out, first=False)
        m = {f"driver.stage_s.{s}": stage_s.get(s, 0.0) for s in KG_STAGES}
        m["trace.traced_wall_s"] = tr.spans.duration("driver.run_kg")

        res, kept = kg_layers(spark, self.files, self.run_dir(), tr)
        m.update(layer_metrics(tr, res, stage_metrics.get("edges", {})))
        _release(kept)
        errs += [f"layer drive: stage {s} differs from run_kg"
                 for s, v in verify_stage_digests(
                     spark, res["run_dir"], fresh, KG_STAGES).items()
                 if not v["match"]]

        # kg_append: commit a 90% run, then append the rest
        base = self.run_dir()
        run_kg(spark, spark.read.parquet(self.base_path), base)
        with tr.layer("manifests", "pending"):
            ident = with_identity(self.files).select(
                "repo", "path", "commit", "lang", "content", "file_id")
            m["manifests.pending_files"] = pending_inputs(
                ident, spark, base, "mentions").count()
        m["manifests.pending_s"] = tr.call("manifests.pending")
        with tr.span("append"):
            with tr.span("append.extract_incremental"):
                _, m["append.new_files"] = extract_incremental(
                    spark, self.files, base)
            run_kg(spark, self.files, base)
        m["append.wall_s"] = tr.spans.duration("append")
        m["append.extract_incremental_s"] = \
            tr.spans.duration("append.extract_incremental")
        verdict = verify_stage_digests(spark, base, fresh, KG_STAGES)
        return m, errs + [f"append: stage {s} differs from a fresh build"
                          for s, v in verdict.items() if not v["match"]]


class OpsBoard(Workload):
    """The ten board queries over seeded documents/lineitem tables, each
    result written to parquet (hashed after the timed pass)."""

    name = "ops_board"

    def __init__(self, work: str, seed: int):
        super().__init__(work, seed)
        self.dir = inputs.board_tables(os.path.join(work, "inputs"), seed)

    def start(self, spark) -> None:
        import __spark_entry__ as em
        self.spark = spark
        self.queries = em.queries()

    def _sink(self, q: str, rd: str) -> None:
        self.queries[q](self.spark, self.dir) \
            .write.mode("overwrite").parquet(os.path.join(rd, q))

    def iteration(self) -> dict:
        rd = self.run_dir()
        for q in BOARD_QUERIES:
            self._sink(q, rd)
        return {"run_dir": rd}

    def results(self, out: dict) -> dict[str, dict]:
        if "got" not in out:
            out["got"] = {q: parquet_hash(os.path.join(out["run_dir"], q))
                          for q in BOARD_QUERIES}
        return out["got"]

    def items(self, out: dict) -> int:
        return sum(v["rows"] for v in self.results(out).values())

    def check(self, out: dict, first: bool) -> list[str]:
        """Each query's row count and hash equal the values recorded for
        this input variant in expected_board.json."""
        want = expected("board", inputs.board_variant(self.seed))
        return [f"{q}: got {v} want {want.get(q)}"
                for q, v in self.results(out).items() if v != want.get(q)]

    def trace(self, tr: Tracer) -> tuple[dict, list[str]]:
        """Each query in its own span and job group."""
        m = {}
        rd = self.run_dir()
        with tr.span("board"):
            for q in BOARD_QUERIES:
                with tr.layer("board", q):
                    self._sink(q, rd)
                m[f"board.{q}.s"] = tr.call(f"board.{q}")
                m[f"board.{q}.shuffle_mb"] = tr.call(f"board.{q}",
                                                     "shuffle_mb")
        out = {"run_dir": rd}
        for q, v in self.results(out).items():
            m[f"board.{q}.rows_out"] = v["rows"]
        m["trace.traced_wall_s"] = tr.spans.duration("board")
        return m, self.check(out, first=False)


WORKLOADS = {w.name: w for w in (KgBuild, OpsBoard)}

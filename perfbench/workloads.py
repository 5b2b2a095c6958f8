"""The two benchmark workloads.

Each workload generates its input from the seed into parquet, then calls the
package's public functions on those files only. A workload provides:

- ``generate()``      write the seeded inputs under ``data_dir``: the
                      measured one and, unless the warm-up passes use it
                      too (``warmup_input``), a small one of the same shape
- ``open(which)``     open one of them
- ``run_pass(out)``   one timed pass, leaving its outputs under ``out``
- ``check(out)``      output checks; returns a list of problems
- ``traced_pass(tracer, out)``  the same work split into layer spans, each
                      lazy layer materialized at its boundary; returns the
                      boundary counts as per-layer extras

Why these two (each stresses layers the other bypasses):

- ``kg_scale``: the documented large-corpus profile (``for_scale``): ledger
  writes at every stage boundary, unfused clean/parse/extract, node/edge
  aggregation, distributed merge fixpoint, top-K bypass rounds, graph table
  writes, then a resume that reads the ledger back. Per-job overhead
  dominates it, not data volume.
- ``graph_queries``: the JVM-only iterative query operators on a power-law
  graph; no Python UDF and no KG layer.
"""

from __future__ import annotations

import os
import shutil
import time
from contextlib import contextmanager
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from openie_spark.clustering import with_clusters
from openie_spark.corpus import pages_df
from openie_spark.dataops.components import connected_components
from openie_spark.extract import extract_triples_df, extract_triples_from_pages, ok_triples
from openie_spark.graph import aggregate_edges, aggregate_nodes, with_degrees
from openie_spark.graph_analytics import (
    hits_micros,
    k_core,
    k_hop_neighborhood,
    pagerank_micros,
    triangle_count,
)
from openie_spark.lineage import StageLedger
from openie_spark.merge import MergeConfig, merge_fixpoint
from openie_spark.parse import parse_pages
from openie_spark.pipeline import PipelineConfig, run_pipeline
from openie_spark.sinks import write_graph_tables
from openie_spark.textclean import clean_pages
from openie_spark.topk import filter_nodes
from tools.golden_digest import golden_digest

KG_SCALE_PAGES = {"main": 100}
# power-law graph: node ranks drawn with p(rank) ~ rank^-GRAPH_ALPHA
GRAPH_NODES = {"main": 50_000, "warmup": 5_000}
GRAPH_DRAWS = {"main": 300_000, "warmup": 30_000}
GRAPH_ALPHA = 1.1
K_HOP_SEEDS = (0, 1, 2, 3)
K_HOP_K = 2
K_CORE_K = 5


def dir_mb(path: Path) -> float:
    """Bytes of every file under ``path`` (MB = 10^6 bytes)."""
    return sum(f.stat().st_size for f in Path(path).rglob("*") if f.is_file()) / 1e6


def materialize(df: DataFrame) -> DataFrame:
    return df.localCheckpoint(eager=True)


def table_digest(df: DataFrame) -> tuple[int, int]:
    """(rows, order-insensitive xxhash sum) of ``df``, array columns sorted."""
    cols = [
        F.array_sort(F.col(f.name)) if f.dataType.typeName() == "array" else F.col(f.name)
        for f in df.schema.fields
    ]
    row = df.select(F.xxhash64(*cols).cast("decimal(38,0)").alias("h")).agg(
        F.count(F.lit(1)), F.sum("h")
    ).first()
    return int(row[0]), int(row[1] or 0)


def read_rows(path: Path) -> list[dict]:
    return pq.read_table(path).to_pylist()


def graph_table_problems(spark, out: Path, ok_count: int | None) -> list[str]:
    """Checks shared by the KG workloads on written node/edge tables:
    every edge endpoint is a node, and (when given) the edge weight total is
    one per ok triple."""
    nodes = spark.read.parquet(str(out / "nodes"))
    edges = spark.read.parquet(str(out / "edges"))
    problems = []
    ends = edges.select(F.col("src").alias("lemma_key")).unionByName(
        edges.select(F.col("dst").alias("lemma_key"))
    )
    dangling = ends.join(nodes, "lemma_key", "left_anti").count()
    if dangling:
        problems.append(f"{dangling} edge endpoints are not nodes")
    if nodes.count() == 0 or edges.count() == 0:
        problems.append("empty node or edge table")
    if ok_count is not None:
        w = edges.agg(F.sum("weight")).first()[0]
        if w != ok_count:
            problems.append(f"edge weight sum {w} != ok triples {ok_count}")
    return problems


class Tracer:
    """Layer spans kept in memory; each sets the Spark job group to the
    layer's name so the event log attributes its jobs."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []

    @contextmanager
    def span(self, layer: str):
        self.sc.setJobGroup(layer, layer)
        t0 = time.time()
        try:
            yield
        finally:
            self.spans.append({"layer": layer, "start_ms": t0 * 1e3, "end_ms": time.time() * 1e3})
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)


class Workload:
    name = ""
    stressed: tuple[str, ...] = ()
    warmup_passes = 1
    warmup_input = "warmup"

    def __init__(self, spark, data_dir: Path, seed: int, pins: dict):
        self.spark = spark
        self.data_dir = data_dir
        self.seed = seed
        self.pins = pins.get(str(seed), {})
        self.observed: dict = {}  # pinnable values seen this run

    def reopen(self, spark) -> None:
        """Re-open the already generated measured input in a new session."""
        self.spark = spark
        self.open("main")

    def pin_problems(self, key: str, value) -> list[str]:
        first = self.observed.setdefault(key, value)
        problems = []
        if value != first:
            problems.append(f"{key}: {value} differs from first pass {first}")
        if key in self.pins and value != self.pins[key]:
            problems.append(f"{key}: {value} != pinned {self.pins[key]}")
        return problems


class KgScale(Workload):
    name = "kg_scale"
    n_pages = KG_SCALE_PAGES
    stressed = ("textclean", "parse", "extract", "graph", "merge", "topk", "sinks", "lineage")
    # the timed pass runs ~220 small jobs whose planning is driver-bound:
    # after one warm-up pass, or two on a smaller corpus, the JIT is still
    # compiling them and single timed passes read 20-50% apart
    warmup_passes = 2
    warmup_input = "main"

    def generate(self) -> None:
        parts = 2 * self.spark.sparkContext.defaultParallelism
        for which, n in self.n_pages.items():
            pages_df(self.spark, n, seed=self.seed, n_sents=6, partitions=parts).write.mode(
                "overwrite"
            ).parquet(str(self.data_dir / which))

    def open(self, which: str) -> None:
        self.pages = self.spark.read.parquet(str(self.data_dir / which))

    def digest_problems(self, tables: Path) -> list[str]:
        """Node/edge tables must repeat pass to pass. Float columns are left
        out: their sums depend on task order."""
        problems = []
        for t in ("nodes", "edges"):
            df = self.spark.read.parquet(str(tables / t))
            df = df.drop(*[f.name for f in df.schema.fields if "float" in f.dataType.simpleString()])
            problems += self.pin_problems(f"{t}_digest", list(table_digest(df)))
        return problems

    def ok_count(self) -> int:
        """Ok triples of the input, counted through the fused extraction
        (not through the graph) so the edge weight check has an
        independent side; the count itself is pinned per seed."""
        if "ok_triples" not in self.observed:
            cfg = self.cfg()
            tri = extract_triples_from_pages(
                self.pages,
                frozenset(cfg.stopwords),
                dim=cfg.dim,
                additional_relations=cfg.additional_relations,
                lang=cfg.lang,
            )
            self.observed["ok_triples"] = ok_triples(tri).count()
        n = self.observed["ok_triples"]
        pinned = self.pins.get("ok_triples")
        if pinned is not None and n != pinned:
            raise AssertionError(f"ok triples {n} != pinned {pinned}")
        return n

    def cfg(self, work_dir: Path | None = None) -> PipelineConfig:
        return PipelineConfig.for_scale(str(work_dir) if work_dir else None, skip_clustering=True)

    def run_pass(self, out: Path) -> None:
        # the second call resumes every stage from the first call's ledger
        for tables in ("graph_cold", "graph_resumed"):
            res = run_pipeline(self.spark, self.pages, self.cfg(out / "work"))
            write_graph_tables(res["nodes"], res["edges"], str(out / tables))

    def check(self, out: Path) -> list[str]:
        # merge and top-K both keep one edge weight per triple only up to the
        # merge boundary: top-K bypass drops and rewires edges by design
        merged = self.spark.read.parquet(str(out / "work/stages/edges_merged"))
        problems = []
        w = merged.agg(F.sum("weight")).first()[0]
        if w != self.ok_count():
            problems.append(f"merged edge weight sum {w} != ok triples {self.ok_count()}")
        problems += graph_table_problems(self.spark, out / "graph_cold", None)
        problems += self.digest_problems(out / "graph_cold")
        for t in ("nodes", "edges"):
            cold = golden_digest(read_rows(out / "graph_cold" / t))
            resumed = golden_digest(read_rows(out / "graph_resumed" / t))
            if cold != resumed:
                problems.append(f"resumed {t} digest {resumed} != cold {cold}")
        return problems

    def traced_pass(self, tr: Tracer, out: Path) -> dict:
        """run_pipeline's work_dir path, one span per layer; every ledger
        write is its own ``lineage`` span."""
        work = out / "work"
        cfg = self.cfg(work)
        fp = cfg.fingerprint() + "|"
        ledger = StageLedger(self.spark, str(work))

        def boundary(name: str, df: DataFrame) -> DataFrame:
            with tr.span("lineage"):
                return ledger.run_stage(name, fp, lambda: df)

        with tr.span("textclean"):
            cleaned = materialize(clean_pages(self.pages, lang=cfg.lang))
        cleaned = boundary("clean", cleaned)
        with tr.span("parse"):
            parses = materialize(parse_pages(cleaned))
        parses = boundary("parses", parses)
        with tr.span("extract"):
            triples_all = materialize(
                extract_triples_df(
                    parses, frozenset(cfg.stopwords), dim=cfg.dim,
                    additional_relations=cfg.additional_relations,
                )
            )
        triples_all = boundary("triples", triples_all)
        total, ok = triples_all.count(), ok_triples(triples_all).count()
        triples = ok_triples(triples_all)
        clusters = triples.select("url", "sent_id").distinct().withColumn("cluster", F.lit(0))
        labeled = with_clusters(triples, clusters)
        with tr.span("graph"):
            nodes = materialize(
                aggregate_nodes(
                    labeled, n_salts=cfg.n_salts, salted=cfg.salted,
                    max_descriptions=cfg.max_descriptions, dim=cfg.dim,
                )
            )
        nodes = boundary("nodes_raw", nodes)
        with tr.span("graph"):
            edges = materialize(
                aggregate_edges(
                    labeled, n_salts=cfg.n_salts, salted=cfg.salt_edges,
                    max_descriptions=cfg.max_descriptions,
                )
            )
        edges = boundary("edges_raw", edges)
        mcfg = MergeConfig(
            strict_parity=cfg.strict_parity,
            n_salts=cfg.n_salts,
            dim=cfg.dim,
            incremental_discovery=cfg.incremental_discovery,
            checkpoint_dir=f"{work}/merge_ckpt",
        )
        with tr.span("merge"):
            m_nodes, m_edges, rounds = merge_fixpoint(
                nodes, edges, mcfg, local_threshold=cfg.merge_local_threshold
            )
        n_in, n_merged = nodes.count(), m_nodes.count()
        nodes = boundary("nodes_merged", m_nodes)
        edges = boundary("edges_merged", m_edges)
        with tr.span("topk"):
            k_nodes, k_edges = filter_nodes(nodes, edges, cfg.entities_limit)
            k_nodes, k_edges = materialize(k_nodes), materialize(k_edges)
        n_kept = k_nodes.count()
        with tr.span("graph"):
            k_nodes = materialize(with_degrees(k_nodes, k_edges))
        k_nodes = boundary("nodes", k_nodes)
        k_edges = boundary("edges", k_edges)
        with tr.span("sinks"):
            write_graph_tables(k_nodes, k_edges, str(out / "graph_cold"))
        t0 = time.time()
        with tr.span("lineage"):
            res = run_pipeline(self.spark, self.pages, cfg)
        resume_s = time.time() - t0
        with tr.span("sinks"):
            write_graph_tables(res["nodes"], res["edges"], str(out / "graph_resumed"))
        return {
            "extract.ok_ratio": (ok / total, f"{ok} ok of {total} extracted rows"),
            "merge.rounds": (rounds, "merge fixpoint rounds"),
            "merge.absorb_ratio": (n_merged / n_in, f"{n_merged} nodes out of {n_in} in"),
            "topk.keep_ratio": (n_kept / n_merged, f"{n_kept} kept of {n_merged}"),
            "lineage.resume_s": (resume_s, "resumed run_pipeline call"),
            "sinks.write_mb": (
                dir_mb(out / "graph_cold") + dir_mb(out / "graph_resumed"),
                "cold and resumed graph tables",
            ),
        }


def power_law_edges(seed: int, n: int, draws: int, alpha: float = GRAPH_ALPHA) -> np.ndarray:
    """Seeded simple directed graph, (m, 2) int64, with power-law in- and
    out-degrees: both endpoints are drawn with p(rank) ~ rank^-alpha, ranks
    mapped to node ids by two independent permutations so hubs are spread
    over the id space; self-loops and duplicate edges are dropped."""
    rng = np.random.default_rng(seed)
    p = 1.0 / np.arange(1, n + 1) ** alpha
    p /= p.sum()
    src = rng.permutation(n)[rng.choice(n, draws, p=p)]
    dst = rng.permutation(n)[rng.choice(n, draws, p=p)]
    pairs = np.unique(np.stack([src, dst], axis=1)[src != dst], axis=0)
    return pairs[rng.permutation(len(pairs))].astype(np.int64)


class GraphQueries(Workload):
    name = "graph_queries"
    stressed = (
        "graph_analytics.pagerank",
        "graph_analytics.hits",
        "graph_analytics.k_hop",
        "graph_analytics.triangles",
        "graph_analytics.k_core",
        "dataops.components",
    )

    def generate(self) -> None:
        for which, n in GRAPH_NODES.items():
            edges = power_law_edges(self.seed, n, GRAPH_DRAWS[which])
            path = self.data_dir / which
            path.mkdir(parents=True, exist_ok=True)
            for i, chunk in enumerate(np.array_split(edges, 4)):
                pq.write_table(
                    pa.table({"src": chunk[:, 0], "dst": chunk[:, 1]}), path / f"part-{i}.parquet"
                )

    def open(self, which: str) -> None:
        self.edges = self.spark.read.parquet(str(self.data_dir / which))

    def operators(self):
        """(layer, call) in run order; each call returns the operator's
        output DataFrame."""
        e = self.edges
        pairs = e.select(F.col("src").alias("id_a"), F.col("dst").alias("id_b"))
        return (
            ("graph_analytics.pagerank", lambda: pagerank_micros(e, iterations=5)),
            ("graph_analytics.hits", lambda: hits_micros(e, iterations=4)),
            ("graph_analytics.k_hop", lambda: k_hop_neighborhood(e, list(K_HOP_SEEDS), K_HOP_K)),
            ("graph_analytics.triangles", lambda: triangle_count(e)),
            ("graph_analytics.k_core", lambda: k_core(e, K_CORE_K)),
            ("dataops.components", lambda: connected_components(pairs)),
        )

    def run_pass(self, out: Path) -> None:
        for layer, call in self.operators():
            call().write.mode("overwrite").parquet(str(out / layer))

    def check(self, out: Path) -> list[str]:
        problems = []
        for layer, _ in self.operators():
            rows = read_rows(out / layer)
            problems += self.pin_problems(layer, golden_digest(rows))
            problems += [f"{layer}: {p}" for p in self._invariants(layer, rows)]
        return problems

    @staticmethod
    def _invariants(layer: str, rows: list[dict]) -> list[str]:
        if not rows:
            return ["empty output"]
        op = layer.rsplit(".", 1)[1]
        if op == "pagerank" and any(r["rank_micros"] < 0 for r in rows):
            return ["negative rank"]
        if op == "hits" and any(r["auth_micros"] < 0 or r["hub_micros"] < 0 for r in rows):
            return ["negative hub/authority score"]
        if op == "k_hop":
            if any(not 0 <= r["dist"] <= K_HOP_K for r in rows):
                return ["distance outside [0, k]"]
            if any(r["dist"] == 0 and r["node"] not in K_HOP_SEEDS for r in rows):
                return ["non-seed at distance 0"]
        if op == "triangles" and sum(r["triangles"] for r in rows) % 3:
            return ["triangle incidences not a multiple of 3"]
        if op == "k_core" and any(r["degree"] < K_CORE_K for r in rows):
            return ["core node below k"]
        if op == "components" and any(r["component"] > r["node"] for r in rows):
            return ["component label above its node id"]
        return []

    def traced_pass(self, tr: Tracer, out: Path) -> dict:
        for layer, call in self.operators():
            with tr.span(layer):
                call().write.mode("overwrite").parquet(str(out / layer))
        return {}


WORKLOADS = {w.name: w for w in (KgScale, GraphQueries)}


def clear_dir(path: Path) -> None:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path, exist_ok=True)

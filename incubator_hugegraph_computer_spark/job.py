"""spark-submit entry point.

The reference submits jobs as ``HugeGraphComputer.main(conf, role, drive)``
(``computer-dist/.../dist/HugeGraphComputer.java:57``) with master/worker
role dispatch; on Spark the cluster manager owns the topology, so the
CLI is just: input → algorithm → output.

Usage (cluster):
    spark-submit --py-files hgc_spark.zip -m incubator_hugegraph_computer_spark.job \
        --algorithm pagerank --input /data/repo_files --output /out/ranks \
        --checkpoint-dir /ckpt --run-id run1

Sandbox smoke (generates its own corpus):
    spark-submit job.py --algorithm pagerank --generate 10000 --output /tmp/out
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time


def _positive_int(v: str) -> int:
    n = int(v)
    if n <= 0:
        raise argparse.ArgumentTypeError("must be a positive integer")
    return n


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="hgc-spark", description=__doc__)
    p.add_argument(
        "--algorithm",
        required=True,
        choices=[
            "pagerank", "pagerank_classic", "pagerank_weighted", "wcc", "lpa", "lpa_sync",
            "triangle_count", "degree", "kcore", "scc", "clustering_coefficient",
            "rings", "random_walk", "betweenness", "closeness", "louvain",
            "sssp", "sssp_paths", "widest_path", "ppr", "slpa", "depth", "jaccard",
            "cycle_detection", "mis", "scan", "bowtie", "k4", "bipartite",
            "embeddedness", "rich_club", "host_quotient", "trustrank",
            "spam_mass", "hostrank", "opic", "crawl_schedule",
            "ktruss", "trussness", "ppr_sweep", "voterank",
            "leiden", "matching", "coarsen", "edge_betweenness",
            "build_layers", "critical_path", "coupling", "impact", "sparsify", "cascade",
            "bridges", "two_edge_components", "percolation", "percolation4",
            "transitive_reduction", "attack_tolerance", "eccentricity",
            "wl_refine", "fastrp", "pic", "label_spread", "msbfs",
            "hyperball", "temporal_reach", "triad_census", "vertex_cut",
            "ppr_batch", "slashburn", "collective_influence", "butterflies",
            "harmonic_hll", "bond_percolation", "newman_vector", "sage_sample",
            "ppr_push",
        ],
    )
    p.add_argument("--trust-seeds", default="0",
                   help="trustrank/spam_mass/impact: comma-separated seed vertex ids")
    p.add_argument("--scan-eps", type=float, default=0.15,
                   help="scan: structural-similarity threshold")
    p.add_argument("--scan-mu", type=int, default=3,
                   help="scan: min eps-neighborhood size for a core")
    p.add_argument("--quotient-mod", type=int, default=64,
                   help="host_quotient/crawl_schedule: group rule grp = id %% MOD")
    p.add_argument("--crawl-delay-ms", type=int, default=500,
                   help="crawl_schedule: politeness gap per host")
    p.add_argument("--crawl-budget", type=int, default=None,
                   help="crawl_schedule: per-host frontier cap")
    p.add_argument("--priority", default=None,
                   help="crawl_schedule: parquet (id, priority) frame — e.g. a "
                   "previous pagerank/opic output — instead of in-degree")
    p.add_argument("--priority-col", default="priority",
                   help="crawl_schedule: value column in --priority "
                   "(e.g. 'rank' for a pagerank output, 'opic' for opic)")
    p.add_argument("--source", type=int, default=0,
                   help="source vertex id for sssp/sssp_paths/ppr/ppr_sweep/depth/jaccard")
    p.add_argument("--truss-k", type=int, default=4,
                   help="ktruss: k (min per-edge triangle support + 2); "
                   "trussness: the declared decomposition cap k_max")
    p.add_argument("--sweep-max", type=int, default=64,
                   help="ppr_sweep: conductance-curve prefix budget")
    p.add_argument("--voterank-k", type=int, default=10,
                   help="voterank: number of seeds to elect")
    p.add_argument("--targets", default="*",
                   help="sssp_paths targets: '*' or comma-separated vertex ids "
                   "(single_source_shortest_path.target_id)")
    p.add_argument("--wcc-method", default="propagate",
                   choices=["propagate", "stride", "shortcut", "contract"],
                   help="WCC physical strategy (identical output); "
                   "'contract' = large-star/small-star, O(log n) rounds "
                   "on high-diameter graphs")
    p.add_argument("--method", default="superstep",
                   choices=["superstep", "stride"],
                   help="pagerank/lpa schedule: per-superstep barriers or "
                   "stride-fused actions (same per-iteration math; a run "
                   "that converges may do up to stride-1 extra iterations)")
    p.add_argument("--stride", type=int, default=None,
                   help="iterations fused per action for --method stride "
                   "(default: pagerank 2, lpa 4)")
    p.add_argument("--initial-ranks", default=None,
                   help="parquet (id, rank) warm-start seed for pagerank — "
                        "the delta-ingest path: converge from last run's "
                        "ranks instead of the uniform vector")
    p.add_argument("--node2vec-p", type=float, default=1.0,
                   help="random_walk return factor (random_walk.return_factor)")
    p.add_argument("--node2vec-q", type=float, default=1.0,
                   help="random_walk in-out factor (random_walk.inout_factor)")
    src = p.add_mutually_exclusive_group(required=True)
    src.add_argument("--input", help="path of the (repo,path,commit,lang,content,sha256) table")
    src.add_argument("--generate", type=_positive_int, metavar="NUM_FILES",
                     help="generate a deterministic synthetic corpus of this size")
    src.add_argument("--generate-rmat", type=_positive_int, metavar="NUM_EDGES",
                     help="generate a deterministic R-MAT edge table of this "
                     "size instead of a file corpus (pure topology, "
                     "Graph500-style power-law skew; --rmat-levels sets the "
                     "2^levels vertex space)")
    p.add_argument("--rmat-levels", type=int, default=16,
                   help="--generate-rmat: log2 of the vertex id space")
    p.add_argument("--input-format", default="parquet", choices=["parquet", "iceberg", "csv"])
    p.add_argument("--output", required=True)
    p.add_argument(
        "--output-format",
        default="parquet",
        choices=["parquet", "hdfs_text", "csv", "json"],
        help="parquet (default) | hdfs_text (HdfsOutput 'id<delim>value' "
        "lines) | csv/json (Csv/JsonStructGraphOutput)",
    )
    p.add_argument("--output-delimiter", default=",",
                   help="delimiter for hdfs_text/csv outputs")
    p.add_argument("--output-merge", action="store_true",
                   help="merge hdfs_text partition files into one (HdfsOutputMerger)")
    p.add_argument("--output-filter", default=None,
                   help="SQL predicate applied to result rows before write "
                   "(the ComputerOutput.filter hook)")
    p.add_argument("--checkpoint-dir", default=None)
    p.add_argument("--checkpoint-every", type=int, default=1)
    p.add_argument("--checkpoint-messages", action="store_true",
                   help="also snapshot the combined inbox each checkpointed "
                   "superstep (replayable supersteps; one extra write job)")
    p.add_argument("--checkpoint-table", default=None,
                   help="catalog table for checkpoint STATE (DataFrameWriterV2; "
                   "an Iceberg table when an Iceberg catalog is configured) — "
                   "markers/metrics still live under --checkpoint-dir")
    p.add_argument("--run-id", default=None)
    p.add_argument("--resume", action="store_true")
    p.add_argument("--max-supersteps", type=int, default=None)
    p.add_argument("--partitions", type=int, default=None)
    p.add_argument("--seed", type=int, default=42)
    p.add_argument("--no-verify-sha", action="store_true")
    p.add_argument("--graph-store", default=None,
                   help="bucketed graph store path: if it exists, load the "
                   "pre-bucketed graph from it (skips ingest + shuffle "
                   "entirely); otherwise ingest normally, then save the "
                   "bucketed graph there for every later run")
    p.add_argument("--graph-store-buckets", type=int, default=None,
                   help="bucket count when writing --graph-store "
                   "(default: the graph's partition count); size for the "
                   "TARGET cluster, not the ingest one")
    return p


def run(args: argparse.Namespace) -> dict:
    # refuse unsupported durability flags BEFORE paying for ingest —
    # silently dropping a checkpoint request loses work on a crash
    ckpt_algos = {
        "pagerank", "pagerank_classic", "pagerank_weighted",
        "wcc", "lpa", "lpa_sync", "sssp", "sssp_paths", "ppr",
    }
    if args.resume and not args.checkpoint_dir:
        raise SystemExit("--resume requires --checkpoint-dir")
    if args.checkpoint_table and not args.checkpoint_dir:
        raise SystemExit(
            "--checkpoint-table requires --checkpoint-dir (markers/metrics live there)"
        )
    if args.checkpoint_dir and args.algorithm not in ckpt_algos:
        raise SystemExit(
            f"--checkpoint-dir/--resume are not supported for {args.algorithm} "
            f"(supported: {', '.join(sorted(ckpt_algos))})"
        )

    from pyspark.sql import functions as F

    from incubator_hugegraph_computer_spark.graph import Graph
    from incubator_hugegraph_computer_spark.operators import (
        degree_centrality,
        lpa,
        pagerank,
        pagerank_classic,
        triangle_count,
        wcc,
    )
    from incubator_hugegraph_computer_spark.operators.lpa import lpa_sync
    from incubator_hugegraph_computer_spark.session import get_spark
    from incubator_hugegraph_computer_spark.sources.extractor import extract_edges
    from incubator_hugegraph_computer_spark.sources.repo_files import generate_repo_files

    # the table checkpoint backend needs a catalog that survives the
    # process so a NEW spark-submit can resume from it: default the
    # session catalog to Hive (local Derby metastore when no metastore
    # service is configured). An Iceberg deployment instead names the
    # table through its v2 catalog (spark-submit --conf
    # spark.sql.catalog.<name>=...), which this conf does not touch.
    table_confs = (
        {"spark.sql.catalogImplementation": "hive"} if args.checkpoint_table else None
    )
    spark = get_spark(app_name=f"hgc-{args.algorithm}", extra_confs=table_confs)
    t0 = time.monotonic()
    store_meta = (
        os.path.join(args.graph_store, "_hgc_graph_meta.json")
        if args.graph_store
        else None
    )
    # existence check through the Hadoop FS of the store's scheme —
    # os.path.exists would never see an hdfs://*/s3a:// store and every
    # run would silently re-ingest + re-shuffle
    def _store_exists(p: str) -> bool:
        from incubator_hugegraph_computer_spark.fsutil import hadoop_fs

        fs, hp = hadoop_fs(spark, p)
        return fs.exists(hp)

    # --generate-rmat and --graph-store must not combine silently: the
    # store branch would load a previously-saved corpus graph and the
    # generator would never run (computing on the wrong graph), while
    # with no store present the rmat path never populates the store.
    if args.generate_rmat and args.graph_store:
        raise SystemExit(
            "--generate-rmat cannot be combined with --graph-store: the "
            "store would shadow the generated graph (or be silently "
            "ignored). Drop one of the two flags."
        )
    counts_done = False
    if store_meta and _store_exists(store_meta):
        from incubator_hugegraph_computer_spark.sources.graph_store import load_graph

        graph = load_graph(spark, args.graph_store).cache()
        # the store keeps the human-readable vertex dims for output
        vertices = graph.vertices
    else:
        if args.generate_rmat:
            from incubator_hugegraph_computer_spark.sources.generators import (
                rmat_edges,
            )

            re_ = (
                rmat_edges(
                    spark, args.generate_rmat, levels=args.rmat_levels,
                    seed=args.seed,
                )
                .select("src", "dst")
                .where(F.col("src") != F.col("dst"))
                .distinct()
            )
            if args.algorithm == "pagerank_weighted":
                # rmat edges carry no multiplicity; a unit weight keeps
                # the weighted program analyzable (equal-weight == the
                # EdgeFrequency.SINGLE view) instead of crashing on a
                # missing weight column at analysis time
                re_ = re_.withColumn("weight", F.lit(1.0))
            graph = Graph.from_edges(re_, num_partitions=args.partitions).cache()
            vertices = graph.vertices
            n_vertices, n_edges = graph.num_vertices(), graph.num_edges()
            t_ingest = time.monotonic() - t0
            counts_done = True
            files = None
        elif args.generate:
            files = generate_repo_files(spark, args.generate, seed=args.seed)
        elif args.input_format == "iceberg":
            files = spark.read.table(args.input)
        else:
            files = spark.read.format(args.input_format).load(args.input)

        # weighted pagerank rides the EdgeFrequency.MULTIPLE view:
        # weight = import multiplicity (extractor.py extract_edges)
        if files is None:
            edges = None  # rmat path: graph already built above
        else:
            vertices, edges = extract_edges(
                files,
                verify=not args.no_verify_sha,
                weighted=args.algorithm == "pagerank_weighted",
            )
            graph = Graph(
                vertices.select("id"), edges, num_partitions=args.partitions
            ).cache()
        if args.graph_store and files is not None:
            from incubator_hugegraph_computer_spark.sources.graph_store import save_graph

            # save with the FULL vertex dims (repo/path/...) so later
            # store-backed runs can still join readable output; edges
            # are already partitioned — no second shuffle
            save_graph(
                Graph(
                    vertices,
                    graph.edges,
                    num_partitions=graph.num_partitions,
                    prepartitioned=True,
                ),
                args.graph_store,
                buckets=args.graph_store_buckets,
            )
    if not counts_done:
        n_vertices, n_edges = graph.num_vertices(), graph.num_edges()
        t_ingest = time.monotonic() - t0

    engine_kwargs = {}
    if args.checkpoint_dir:
        engine_kwargs = {
            "checkpoint_dir": args.checkpoint_dir,
            "checkpoint_every": args.checkpoint_every,
            "run_id": args.run_id,
            "resume": args.resume,
            "checkpoint_messages": args.checkpoint_messages,
            "checkpoint_table": args.checkpoint_table,
        }
    iter_kwargs = dict(engine_kwargs)
    step_kwargs = {}  # for the engine_kwargs-based algos below
    if args.max_supersteps:
        if args.algorithm in ("pagerank", "wcc", "lpa", "lpa_sync"):
            iter_kwargs["max_supersteps"] = args.max_supersteps
        elif args.algorithm in ("pagerank_classic", "pagerank_weighted",
                                "trustrank", "spam_mass", "hostrank"):
            iter_kwargs["max_iterations"] = args.max_supersteps
        elif args.algorithm in ("sssp", "sssp_paths", "widest_path"):
            step_kwargs["max_supersteps"] = args.max_supersteps
        elif args.algorithm in ("ppr", "ppr_sweep"):
            step_kwargs["max_iterations"] = args.max_supersteps
        elif args.algorithm == "depth":
            step_kwargs["max_depth"] = args.max_supersteps
        elif args.algorithm == "opic":
            iter_kwargs["iterations"] = args.max_supersteps
        else:
            # refusing beats silently truncating the user's bound
            raise SystemExit(
                f"--max-supersteps is not supported for {args.algorithm}"
            )

    from incubator_hugegraph_computer_spark.operators.betweenness import betweenness
    from incubator_hugegraph_computer_spark.operators.pagerank import (
        pagerank_weighted as _pagerank_weighted,
    )
    from incubator_hugegraph_computer_spark.operators.closeness import closeness
    from incubator_hugegraph_computer_spark.operators.clustering_coefficient import (
        clustering_coefficient,
    )
    from incubator_hugegraph_computer_spark.operators.kcore import kcore
    from incubator_hugegraph_computer_spark.operators.random_walk import random_walk
    from incubator_hugegraph_computer_spark.operators.rings import ring_counts
    from incubator_hugegraph_computer_spark.operators.louvain import louvain
    from incubator_hugegraph_computer_spark.operators.scc import scc
    from incubator_hugegraph_computer_spark.operators.sssp import sssp as _sssp
    from incubator_hugegraph_computer_spark.operators.sssp import sssp_paths as _sssp_paths
    from incubator_hugegraph_computer_spark.operators.sssp import widest_path as _widest_path
    from incubator_hugegraph_computer_spark.operators.rings import (
        cycle_detection as _cycle_detection,
    )
    from incubator_hugegraph_computer_spark.operators.ppr import ppr as _ppr
    from incubator_hugegraph_computer_spark.operators.ppr import ppr_sweep as _ppr_sweep
    from incubator_hugegraph_computer_spark.operators.ktruss import ktruss as _ktruss
    from incubator_hugegraph_computer_spark.operators.voterank import voterank as _voterank
    from incubator_hugegraph_computer_spark.operators.leiden import leiden as _leiden
    from incubator_hugegraph_computer_spark.operators.matching import maximal_matching as _matching
    from incubator_hugegraph_computer_spark.operators.matching import coarsen as _coarsen
    from incubator_hugegraph_computer_spark.operators.bridges import bridges as _bridges
    from incubator_hugegraph_computer_spark.operators.bridges import (
        two_edge_components as _two_ecc,
    )
    from incubator_hugegraph_computer_spark.operators.percolation import (
        clique_percolation3 as _percolation,
        clique_percolation4 as _percolation4,
    )
    from incubator_hugegraph_computer_spark.operators.code_graph import (
        transitive_reduction2 as _tred2,
    )
    from incubator_hugegraph_computer_spark.operators.structure import (
        attack_tolerance as _attack,
        collective_influence as _collective_influence,
        slashburn as _slashburn,
    )
    from incubator_hugegraph_computer_spark.operators.projection import (
        butterfly_count as _butterflies,
    )
    from incubator_hugegraph_computer_spark.operators.bfs import eccentricity as _ecc
    from incubator_hugegraph_computer_spark.operators.ktruss import trussness as _trussness
    from incubator_hugegraph_computer_spark.operators.code_graph import (
        build_layers as _build_layers,
        critical_path as _critical_path,
        coupling_metrics as _coupling,
        impact_set as _impact,
    )
    from incubator_hugegraph_computer_spark.operators.sparsify import (
        local_sparsify as _sparsify,
    )
    from incubator_hugegraph_computer_spark.operators.cascade import (
        threshold_cascade as _cascade,
    )
    from incubator_hugegraph_computer_spark.operators.slpa import slpa as _slpa
    from incubator_hugegraph_computer_spark.operators.bfs import bfs_depth as _bfs_depth
    from incubator_hugegraph_computer_spark.operators.bfs import (
        msbfs_reach as _msbfs,
        temporal_reachability as _treach,
    )
    from incubator_hugegraph_computer_spark.operators.wl import wl_refine as _wl
    from incubator_hugegraph_computer_spark.operators.embeddings import (
        fastrp_embed as _fastrp,
    )
    from incubator_hugegraph_computer_spark.operators.pic import pic_scores as _pic
    from incubator_hugegraph_computer_spark.operators.smoothing import (
        label_spread as _label_spread,
    )
    from incubator_hugegraph_computer_spark.operators.neighborhood import (
        hyperball_harmonic as _hyperball_harmonic,
        hyperball_reach as _hyperball,
    )
    from incubator_hugegraph_computer_spark.operators.structure import (
        bond_percolation as _bond_percolation,
    )
    from incubator_hugegraph_computer_spark.operators.eigenvector import (
        newman_leading_vector as _newman,
    )
    from incubator_hugegraph_computer_spark.operators.embeddings import (
        sage_sample as _sage,
    )
    from incubator_hugegraph_computer_spark.operators.motifs import (
        triad_census as _triad_census,
    )
    from incubator_hugegraph_computer_spark.operators.stats import (
        vertex_cut_stats as _vertex_cut,
    )
    from incubator_hugegraph_computer_spark.operators.ppr import (
        ppr_batch as _ppr_batch,
        ppr_push as _ppr_push,
    )
    from incubator_hugegraph_computer_spark.operators.jaccard import jaccard as _jaccard
    from incubator_hugegraph_computer_spark.operators.mis import (
        maximal_independent_set as _mis,
    )
    from incubator_hugegraph_computer_spark.operators.scan import scan as _scan
    from incubator_hugegraph_computer_spark.operators.structure import (
        bowtie as _bowtie,
        edge_embeddedness as _embeddedness,
        rich_club as _rich_club,
    )
    from incubator_hugegraph_computer_spark.operators.cliques import k4_count as _k4
    from incubator_hugegraph_computer_spark.operators.bipartite import (
        bipartite_check as _bipartite,
    )
    from incubator_hugegraph_computer_spark.operators.quotient import (
        host_rank as _host_rank,
        quotient_graph as _quotient,
    )
    from incubator_hugegraph_computer_spark.operators.trustrank import (
        spam_mass as _spam_mass,
        trustrank as _trustrank,
    )
    from incubator_hugegraph_computer_spark.operators.opic import opic as _opic
    from incubator_hugegraph_computer_spark.operators.crawl import (
        crawl_schedule as _crawl_schedule,
    )

    t1 = time.monotonic()
    algos = {
        "pagerank": lambda: pagerank(
            graph, method=args.method,
            **({"stride": args.stride} if args.stride else {}),
            **({"initial_ranks": spark.read.parquet(args.initial_ranks)
                .select("id", "rank")} if args.initial_ranks else {}),
            **iter_kwargs),
        "pagerank_classic": lambda: pagerank_classic(graph, **iter_kwargs),
        "pagerank_weighted": lambda: _pagerank_weighted(graph, **iter_kwargs),
        "wcc": lambda: wcc(graph, method=args.wcc_method, **iter_kwargs),
        "lpa": lambda: lpa(
            graph, method=args.method,
            **({"stride": args.stride} if args.stride else {}), **iter_kwargs),
        "lpa_sync": lambda: lpa_sync(graph, **iter_kwargs),
        "triangle_count": lambda: triangle_count(graph),
        "degree": lambda: degree_centrality(graph),
        "kcore": lambda: kcore(graph),
        "scc": lambda: scc(graph),
        "clustering_coefficient": lambda: clustering_coefficient(graph),
        "rings": lambda: ring_counts(graph).withColumnRenamed("start", "id"),
        # walk's 'path' column would collide with the vertex dim's file path
        "random_walk": lambda: random_walk(
            graph, return_factor=args.node2vec_p, inout_factor=args.node2vec_q
        )
        .withColumnRenamed("start", "id")
        .withColumnRenamed("path", "walk"),
        "betweenness": lambda: betweenness(graph, sample_rate=0.05),
        "closeness": lambda: closeness(graph, sample_rate=0.05),
        "louvain": lambda: louvain(graph),
        "mis": lambda: _mis(graph, seed=args.seed),
        "sssp": lambda: _sssp(
            graph, source=args.source, **step_kwargs, **engine_kwargs
        ),
        # bottleneck capacity = edge weight when present (MULTIPLE-mode
        # import multiplicity), else uniform 1.0
        "widest_path": lambda: _widest_path(
            Graph(
                graph.vertices,
                graph.edges
                if "weight" in graph.edges.columns
                else graph.edges.withColumn("weight", F.lit(1.0)),
                prepartitioned=True,
            ),
            source=args.source,
            **step_kwargs,
            **engine_kwargs,
        ),
        "sssp_paths": lambda: _sssp_paths(
            graph,
            source=args.source,
            targets="*" if args.targets == "*" else args.targets.split(","),
            **step_kwargs,
            **engine_kwargs,
        ).withColumnRenamed("path", "walk"),
        "cycle_detection": lambda: _cycle_detection(graph, mode="boolean"),
        "ppr": lambda: _ppr(
            graph, source=args.source, **step_kwargs, **engine_kwargs
        ),
        "slpa": lambda: _slpa(graph).withColumnRenamed("label", "community"),
        "depth": lambda: _bfs_depth(graph, source=args.source, **step_kwargs),
        "jaccard": lambda: _jaccard(graph, source=args.source),
        "scan": lambda: _scan(graph, eps=args.scan_eps, mu=args.scan_mu),
        "bowtie": lambda: _bowtie(graph),
        "k4": lambda: _k4(graph),
        "bipartite": lambda: _bipartite(graph),
        "embeddedness": lambda: _embeddedness(graph),
        "rich_club": lambda: _rich_club(graph),
        "host_quotient": lambda: _quotient(
            graph,
            graph.vertices.select("id", (F.col("id") % args.quotient_mod).alias("grp")),
        ),
        "trustrank": lambda: _trustrank(
            graph, [int(s) for s in args.trust_seeds.split(",")], **iter_kwargs
        ),
        "spam_mass": lambda: _spam_mass(
            graph, [int(s) for s in args.trust_seeds.split(",")], **iter_kwargs
        ),
        # grp is a group id, not a vertex id — keep it so the
        # vertex-dimension join is skipped
        "hostrank": lambda: _host_rank(
            graph,
            graph.vertices.select("id", (F.col("id") % args.quotient_mod).alias("grp")),
            **iter_kwargs,
        ),
        "opic": lambda: _opic(graph, **iter_kwargs),
        "ktruss": lambda: _ktruss(graph, k=args.truss_k),
        "leiden": lambda: _leiden(graph),
        "matching": lambda: _matching(graph),
        "coarsen": lambda: _coarsen(graph),
        "edge_betweenness": lambda: betweenness(
            graph, sample_rate=0.05, per_edge=True
        ),
        "build_layers": lambda: _build_layers(graph),
        "critical_path": lambda: _critical_path(graph),
        "bridges": lambda: _bridges(graph),
        "two_edge_components": lambda: _two_ecc(graph),
        "percolation": lambda: _percolation(graph),
        "percolation4": lambda: _percolation4(graph),
        "transitive_reduction": lambda: _tred2(graph),
        "attack_tolerance": lambda: _attack(graph),
        # sampled-source protocol, like closeness/betweenness: the
        # all-sources exact mode is O(V · reach) state
        "eccentricity": lambda: _ecc(
            graph,
            sources=graph.vertices.where(
                F.pmod(F.hash("id"), F.lit(20)) == 0
            ).select("id"),
        ),
        "sparsify": lambda: _sparsify(graph),
        "cascade": lambda: _cascade(
            graph,
            graph.spark.createDataFrame(
                [(int(s),) for s in args.trust_seeds.split(",")], "id long"
            ),
        ),
        "coupling": lambda: _coupling(graph),
        "impact": lambda: _impact(
            graph,
            graph.spark.createDataFrame(
                [(int(s),) for s in args.trust_seeds.split(",")], "id long"
            ),
        ),
        "voterank": lambda: _voterank(graph, k=args.voterank_k),
        "trussness": lambda: _trussness(graph, k_max=args.truss_k),
        "ppr_sweep": lambda: _ppr_sweep(
            graph, source=args.source, sweep_max=args.sweep_max,
            **step_kwargs, **engine_kwargs
        ),
        "ppr_push": lambda: _ppr_push(graph, source=args.source),
        "harmonic_hll": lambda: _hyperball_harmonic(graph),
        "bond_percolation": lambda: _bond_percolation(graph),
        "newman_vector": lambda: _newman(graph),
        "sage_sample": lambda: _sage(
            graph,
            graph.spark.createDataFrame(
                [(int(s),) for s in args.trust_seeds.split(",")], "id long"
            ),
        ),
        "slashburn": lambda: _slashburn(graph),
        "collective_influence": lambda: _collective_influence(graph),
        "butterflies": lambda: _butterflies(graph),
        "wl_refine": lambda: _wl(graph, rounds=3),
        "fastrp": lambda: _fastrp(graph, dim=8, iters=3),
        "pic": lambda: _pic(graph, iterations=6),
        "label_spread": lambda: _label_spread(
            graph,
            graph.spark.createDataFrame(
                [(int(s), i) for i, s in enumerate(args.trust_seeds.split(","))],
                "id long, c long",
            ),
        ),
        # clamp to the 63-seed int64-mask limit: msbfs_reach raises on
        # seed_max > 62 rather than aliasing id % 63 bits
        "msbfs": lambda: _msbfs(graph, seed_max=min(args.source or 32, 62)),
        "hyperball": lambda: _hyperball(graph),
        # derived demo timestamp rule when the edge table carries none
        "temporal_reach": lambda: _treach(
            Graph(
                graph.vertices,
                graph.edges.withColumn(
                    "ts", ((F.col("src") * 7 + F.col("dst") * 13) % 100).cast("long")
                ),
                prepartitioned=True,
            ),
            source=args.source,
        ),
        "triad_census": lambda: _triad_census(graph),
        "vertex_cut": lambda: _vertex_cut(graph),
        "ppr_batch": lambda: _ppr_batch(
            graph,
            graph.spark.createDataFrame(
                [(int(s),) for s in args.trust_seeds.split(",")], "seed long"
            ),
        ),
        "crawl_schedule": lambda: _crawl_schedule(
            graph,
            host_mod=args.quotient_mod,
            delay_ms=args.crawl_delay_ms,
            budget=args.crawl_budget,
            priority=(
                spark.read.parquet(args.priority)
                .select("id", F.col(args.priority_col).alias("priority"))
                if args.priority else None
            ),
        ),
    }
    result = algos[args.algorithm]()
    # join back the human-readable vertex dimension for output;
    # edge-/group-/threshold-keyed reports (embeddedness, rich_club,
    # host_quotient, bipartite) have no per-vertex id column
    out = result.join(vertices, "id") if "id" in result.columns else result
    # ComputerOutput.filter hook (FileGraphPartition.java:258)
    flt = F.expr(args.output_filter) if args.output_filter else None
    if args.output_format == "hdfs_text":
        from incubator_hugegraph_computer_spark.sinks import write_hdfs_text

        write_hdfs_text(
            out, args.output, delimiter=args.output_delimiter,
            merge=args.output_merge, output_filter=flt,
        )
    elif args.output_format == "csv":
        from incubator_hugegraph_computer_spark.sinks import write_csv_struct

        write_csv_struct(out, args.output, delimiter=args.output_delimiter, output_filter=flt)
    elif args.output_format == "json":
        from incubator_hugegraph_computer_spark.sinks import write_json_struct

        write_json_struct(out, args.output, output_filter=flt)
    else:
        if flt is not None:
            out = out.where(flt)
        out.write.mode("overwrite").parquet(args.output)
    t_compute = time.monotonic() - t1

    stats = {
        "algorithm": args.algorithm,
        "vertices": n_vertices,
        "edges": n_edges,
        "ingest_sec": round(t_ingest, 3),
        "compute_sec": round(t_compute, 3),
        "output": args.output,
    }
    print(json.dumps(stats))
    return stats


def main(argv=None) -> None:
    run(build_parser().parse_args(argv))


if __name__ == "__main__":
    sys.exit(main())

"""Round-2 additions: weighted PageRank (Vermeer's
``pagerank.edge_weight_property``, pagerank.go:100-160), BM25 document
ranking, and the domain-mixture downsampler."""

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from tests.conftest import PRWCC_EDGES, PRWCC_VERTEX_IDS, make_graph

from incubator_hugegraph_computer_spark.functions.sampling import domain_mix
from incubator_hugegraph_computer_spark.functions.text import bm25_scores
from incubator_hugegraph_computer_spark.graph import Graph
from incubator_hugegraph_computer_spark.operators.pagerank import (
    pagerank_classic,
    pagerank_weighted,
)
from incubator_hugegraph_computer_spark.plans import local


def _weight(s, d):
    return float((s + d) % 5 + 1)


def _weighted_graph(spark):
    g = make_graph(spark, PRWCC_EDGES, PRWCC_VERTEX_IDS)
    return Graph(
        g.vertices,
        g.edges.withColumn(
            "weight", ((F.col("src") + F.col("dst")) % 5 + 1).cast("double")
        ),
        num_partitions=4,
    ).cache()


def _pagerank_weighted_numpy(n, edges, index, iters, damping=0.85):
    """Vermeer recurrence, pagerank.go:144-158: contribution =
    rank/outdeg · w; outdeg = edge COUNT; dangling term unweighted."""
    outdeg = np.zeros(n)
    for s, _ in edges:
        outdeg[index[s]] += 1
    r = np.full(n, 1.0 / n)
    for _ in range(iters):
        msg = np.zeros(n)
        for s, d in edges:
            msg[index[d]] += r[index[s]] / outdeg[index[s]] * _weight(s, d)
        dang = r[outdeg == 0].sum()
        r = (1.0 - damping) / n + damping * (msg + dang / n)
    return r


def test_pagerank_weighted_matches_numpy(spark, monkeypatch):
    g = _weighted_graph(spark)
    ids = sorted(PRWCC_VERTEX_IDS)
    index = {v: i for i, v in enumerate(ids)}
    want = _pagerank_weighted_numpy(len(ids), PRWCC_EDGES, index, iters=20)
    # the fixture fits plans/local.LOCAL_EDGES: a cap of 0 runs
    # BspEngine, the default cap the driver kernel
    for cap in (0, local.LOCAL_EDGES):
        monkeypatch.setattr(local, "LOCAL_EDGES", cap)
        got = {
            r["id"]: r["rank"]
            for r in pagerank_weighted(g, max_iterations=20, tol=0.0).collect()
        }
        got_vec = np.array([got[v] for v in ids])
        assert np.allclose(got_vec, want, atol=1e-9, rtol=0), cap


def test_pagerank_weighted_unit_weights_match_classic(spark):
    """w ≡ 1 degenerates to the unweighted classic formulation."""
    g = make_graph(spark, PRWCC_EDGES, PRWCC_VERTEX_IDS)
    g1 = Graph(
        g.vertices, g.edges.withColumn("weight", F.lit(1.0)), num_partitions=4
    ).cache()
    got = {
        r["id"]: r["rank"]
        for r in pagerank_weighted(g1, max_iterations=15, tol=0.0).collect()
    }
    want = {
        r["id"]: r["rank"]
        for r in pagerank_classic(g1, max_iterations=15, tol=0.0).collect()
    }
    for v in PRWCC_VERTEX_IDS:
        assert got[v] == pytest.approx(want[v], abs=1e-12)


def test_pagerank_weighted_unknown_property_raises(spark):
    g = make_graph(spark, PRWCC_EDGES, PRWCC_VERTEX_IDS)
    with pytest.raises(ValueError, match="unknown edge weighted property"):
        pagerank_weighted(g, weight_col="nope")


# ------------------------------------------------------------- BM25
DOCS = [
    (0, "spark join spark filter scan"),
    (1, "join join join merge"),
    (2, "sort merge window"),  # no query term
    (3, "spark"),
    (4, ""),  # empty document
]
QUERY = ["spark", "join", "filter"]


def _bm25_python(docs, terms, k1=1.2, b=0.75):
    toks = {i: t.split() for i, t in docs}
    n = float(len(docs))
    dls = {i: len(ws) for i, ws in toks.items()}
    avgdl = sum(dls.values()) / n
    df = {
        t: sum(1 for ws in toks.values() if t in ws)
        for t in terms
    }
    out = {}
    for i, ws in toks.items():
        s, hits = 0.0, 0
        for t in set(terms):
            tf = ws.count(t)
            if tf == 0:
                continue
            hits += 1
            idf = math.log(1.0 + (n - df[t] + 0.5) / (df[t] + 0.5))
            s += idf * (tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * dls[i] / avgdl)))
        out[i] = (hits, round(s, 6))
    return out


def test_bm25_matches_pure_python(spark):
    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_hits"], r["score"])
        for r in bm25_scores(docs, QUERY).collect()
    }
    want = _bm25_python(DOCS, QUERY)
    assert set(got) == set(want)  # every doc returned, hits or not
    for i in want:
        assert got[i][0] == want[i][0]
        assert got[i][1] == pytest.approx(want[i][1], abs=1e-6)
    assert got[2] == (0, 0.0)
    assert got[4] == (0, 0.0)


def test_bm25_rare_term_outranks_common(spark):
    """idf ordering: a doc hit only by the rare term beats a doc hit
    only by the ubiquitous one at equal tf/length."""
    rows = [(i, "common filler words here") for i in range(20)]
    rows[0] = (0, "rare filler words here")
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["score"] for r in bm25_scores(docs, ["rare", "common"]).collect()}
    assert got[0] > got[1] > 0.0


# ------------------------------------------------------ domain mix
def _mix_docs(spark):
    rows = []
    for i in range(400):
        rows.append((i, "en"))
    for i in range(400, 480):
        rows.append((i, "zh"))
    for i in range(480, 520):
        rows.append((i, "de"))
    for i in range(520, 600):
        rows.append((i, "fr"))  # not targeted: dropped
    return spark.createDataFrame(rows, "doc_id long, lang string")


def test_domain_mix_proportions_and_binding_domain(spark):
    docs = _mix_docs(spark)
    targets = {"en": 0.5, "zh": 0.25, "de": 0.25}
    out = domain_mix(docs, targets).select("doc_id", "lang").collect()
    by_lang = {}
    for r in out:
        by_lang.setdefault(r["lang"], set()).add(r["doc_id"])
    # binding domain: de has 40 docs, 40/0.25 = 160 = min budget → all kept
    assert len(by_lang["de"]) == 40
    assert "fr" not in by_lang  # untargeted domains dropped
    # expected: en 80 (rate .2), zh 40 (rate .5) — hash sampling is
    # binomial around the target, so allow generous slack
    assert 55 <= len(by_lang["en"]) <= 105
    assert 25 <= len(by_lang["zh"]) <= 55
    # output rows are a subset of the input
    assert all(r["doc_id"] < 520 for r in out)


def test_domain_mix_deterministic(spark):
    docs = _mix_docs(spark)
    targets = {"en": 0.4, "zh": 0.6}
    a = sorted(r["doc_id"] for r in domain_mix(docs, targets).collect())
    b = sorted(r["doc_id"] for r in domain_mix(docs, targets).collect())
    assert a == b and len(a) > 0


def test_domain_mix_empty_targets_raise(spark):
    docs = _mix_docs(spark)
    with pytest.raises(ValueError):
        domain_mix(docs, {})


# ---------------------------------------------------------- PII scrub
def test_redact_pii_counts_and_text(spark):
    from incubator_hugegraph_computer_spark.functions.text import redact_pii

    rows = [
        (0, "mail bob.smith+x@corp.example.org now"),
        (1, "server at 192.168.1.254 and 10.0.0.1 up"),
        (2, "call +1 415 555-0133 or 020-7946-0958 today"),
        (3, "alice@a.io from 8.8.8.8 dials +44 20 7946 0958"),
        (4, "nothing sensitive here"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r.asDict() for r in redact_pii(docs).collect()}
    assert (got[0]["n_emails"], got[0]["n_ips"], got[0]["n_phones"]) == (1, 0, 0)
    assert got[0]["clean_text"] == "mail <EMAIL> now"
    assert (got[1]["n_emails"], got[1]["n_ips"]) == (0, 2)
    assert got[1]["clean_text"] == "server at <IP> and <IP> up"
    assert got[2]["n_phones"] == 2
    assert got[2]["clean_text"] == "call <PHONE> or <PHONE> today"
    assert (got[3]["n_emails"], got[3]["n_ips"], got[3]["n_phones"]) == (1, 1, 1)
    assert got[4]["clean_text"] == "nothing sensitive here"
    assert (got[4]["n_emails"], got[4]["n_ips"], got[4]["n_phones"]) == (0, 0, 0)


def test_redact_pii_order_protects_ips_from_phone_pattern(spark):
    """The digit-run phone pattern must not eat a dotted IP: redaction
    order is email → ip → phone."""
    from incubator_hugegraph_computer_spark.functions.text import redact_pii

    docs = spark.createDataFrame([(0, "x 10.20.30.40 y")], "doc_id long, text string")
    r = redact_pii(docs).collect()[0]
    assert r["clean_text"] == "x <IP> y"
    assert (r["n_ips"], r["n_phones"]) == (1, 0)


# ------------------------------------------------- quantile buckets
def test_quantile_buckets_per_domain(spark):
    from incubator_hugegraph_computer_spark.functions.sampling import quantile_buckets

    # domain a: 1..8 → q25 = 2.75, q75 = 6.25
    # domain b: 100..103 → q25 = 100.75, q75 = 102.25
    rows = [(i, "a", v) for i, v in enumerate(range(1, 9))]
    rows += [(10 + i, "b", 100 + i) for i in range(4)]
    df = spark.createDataFrame(rows, "doc_id long, lang string, n_chars long")
    got = {r["doc_id"]: r["bucket"] for r in quantile_buckets(df, "n_chars").collect()}
    assert [got[i] for i in range(8)] == [
        "tail", "tail", "middle", "middle", "middle", "middle", "head", "head",
    ]
    assert [got[10 + i] for i in range(4)] == ["tail", "middle", "middle", "head"]


def test_quantile_buckets_thresholds_are_per_domain_not_global(spark):
    from incubator_hugegraph_computer_spark.functions.sampling import quantile_buckets

    # all of domain b is longer than all of domain a; per-domain
    # banding still yields heads in a and tails in b
    rows = [(i, "a", i + 1) for i in range(8)] + [(20 + i, "b", 1000 + i) for i in range(8)]
    df = spark.createDataFrame(rows, "doc_id long, lang string, n_chars long")
    out = quantile_buckets(df, "n_chars")
    heads_a = out.where((F.col("lang") == "a") & (F.col("bucket") == "head")).count()
    tails_b = out.where((F.col("lang") == "b") & (F.col("bucket") == "tail")).count()
    assert heads_a == 2 and tails_b == 2


# ----------------------------------------------- incremental dedup
def test_incremental_dedup_finds_corpus_match_only(spark):
    """A shard doc duplicating a corpus doc is flagged with the right
    dup_of; shard-internal duplicates are NOT flagged (separate pass);
    novel docs keep=1."""
    from incubator_hugegraph_computer_spark.functions.dedup import (
        incremental_minhash_dedup,
    )

    base = "the quick brown fox jumps over the lazy dog again and again"
    corpus = spark.createDataFrame(
        [(100, base), (101, "completely different corpus text about spark shuffles")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [
            (1, base),                       # dup of corpus 100
            (2, "a wholly novel document about bsp supersteps"),
            (3, "a wholly novel document about bsp supersteps"),  # dup of 2 — in-shard
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r.asDict()
        for r in incremental_minhash_dedup(new, corpus, threshold=0.5).collect()
    }
    assert got[1]["dup_of"] == 100 and got[1]["keep"] == 0
    assert got[1]["jaccard"] == pytest.approx(1.0)
    # in-shard duplicates are invisible to the delta pass
    assert got[2]["keep"] == 1 and got[2]["dup_of"] is None
    assert got[3]["keep"] == 1 and got[3]["dup_of"] is None


def test_incremental_dedup_best_match_tiebreak(spark):
    """Ties on jaccard resolve to the lowest corpus id."""
    from incubator_hugegraph_computer_spark.functions.dedup import (
        incremental_minhash_dedup,
    )

    txt = "one two three four five six seven eight nine ten"
    corpus = spark.createDataFrame(
        [(200, txt), (150, txt)], "doc_id long, text string"
    )
    new = spark.createDataFrame([(1, txt)], "doc_id long, text string")
    r = incremental_minhash_dedup(new, corpus, threshold=0.5).collect()[0]
    assert r["dup_of"] == 150 and r["keep"] == 0


def test_domain_mix_token_weighted_mass(spark):
    """With weight_col the OUTPUT MASS (not doc count) approximates the
    target proportions: long docs in one domain → fewer docs kept."""
    from incubator_hugegraph_computer_spark.functions.sampling import domain_mix

    rows = [(i, "a", 100) for i in range(300)]          # mass 30000
    rows += [(1000 + i, "b", 10) for i in range(300)]   # mass 3000
    df = spark.createDataFrame(rows, "doc_id long, lang string, n_chars long")
    out = domain_mix(df, {"a": 0.5, "b": 0.5}, weight_col="n_chars").collect()
    mass = {}
    for r in out:
        mass[r["lang"]] = mass.get(r["lang"], 0) + r["n_chars"]
    # binding domain b keeps everything (3000); a is downsampled to
    # ~3000 mass (rate 0.1 → 30 docs expected, binomial slack)
    assert mass["b"] == 3000
    assert 1500 <= mass["a"] <= 4500


def test_extract_edges_weighted_multiplicity(spark):
    """weighted=True = EdgeFrequency.MULTIPLE folded to (src,dst,weight):
    same edge set as SINGLE, weight = import multiplicity >= 1."""
    from incubator_hugegraph_computer_spark.sources.extractor import extract_edges
    from incubator_hugegraph_computer_spark.sources.repo_files import generate_repo_files

    files = generate_repo_files(spark, 60, seed=7).cache()
    _, single = extract_edges(files, verify=False)
    _, multi = extract_edges(files, verify=False, weighted=True)
    s = {(r["src"], r["dst"]) for r in single.collect()}
    m = {(r["src"], r["dst"]): r["weight"] for r in multi.collect()}
    assert set(m) == s  # identical edge set
    assert all(w >= 1.0 for w in m.values())
    assert any(w > 1.0 for w in m.values())  # multiplicity is real


def test_funnel_ordered_semantics(spark):
    """Steps count only strictly AFTER the previous step's first time;
    pre-signup views don't count, equal timestamps don't count."""
    from datetime import datetime

    from incubator_hugegraph_computer_spark.streaming.events import funnel

    T = lambda m: datetime(2024, 1, 1, 0, m)
    rows = [
        # user 1: full ordered funnel
        (1, T(1), "signup"), (1, T(2), "view"), (1, T(3), "purchase"),
        # user 2: view BEFORE signup only → step 1
        (2, T(1), "view"), (2, T(2), "signup"), (2, T(3), "purchase"),
        # user 3: purchase before view → signup+view only (step 2)
        (3, T(1), "signup"), (3, T(2), "purchase"), (3, T(3), "view"),
        # user 4: view at the SAME instant as signup → not after → step 1
        (4, T(1), "signup"), (4, T(1), "view"),
        # user 5: never signs up → step 0
        (5, T(1), "view"), (5, T(2), "purchase"),
    ]
    events = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_type string"
    )
    got = {r["user_id"]: r["step"] for r in funnel(events).collect()}
    assert got == {1: 3, 2: 1, 3: 2, 4: 1, 5: 0}
    # user 2's purchase (after signup but with no qualifying view) must not leak in
    full = {r["user_id"]: r.asDict() for r in funnel(events).collect()}
    assert full[2]["t_view"] is None and full[2]["t_purchase"] is None


def test_cohort_retention_fractions(spark):
    from datetime import datetime

    from incubator_hugegraph_computer_spark.streaming.events import cohort_retention

    D = lambda d, h=0: datetime(2024, 1, d, h)
    rows = [
        # cohort day 1: users 1,2 — user 1 returns day 2, both day 3
        (1, D(1)), (2, D(1)), (1, D(2)), (1, D(3)), (2, D(3)),
        # cohort day 2: user 3 only, never returns
        (3, D(2)),
        # duplicate same-day events must not inflate counts
        (2, D(1, 5)),
    ]
    events = spark.createDataFrame(rows, "user_id long, ts timestamp")
    got = {
        (str(r["cohort_day"]), r["day_offset"]): (r["n_users"], r["retention"])
        for r in cohort_retention(events).collect()
    }
    assert got[("2024-01-01", 0)] == (2, 1.0)
    assert got[("2024-01-01", 1)] == (1, 0.5)
    assert got[("2024-01-01", 2)] == (2, 1.0)
    assert got[("2024-01-02", 0)] == (1, 1.0)
    assert ("2024-01-02", 1) not in got

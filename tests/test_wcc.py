import warnings

from tests.conftest import PRWCC_EDGES, PRWCC_VERTEX_IDS, make_graph
from tests.oracles import random_graph, wcc_oracle

from incubator_hugegraph_computer_spark.operators.wcc import WccProgram, wcc


def _as_dict(df):
    return {r["id"]: r["comp"] for r in df.collect()}


def test_wcc_fixture(spark):
    g = make_graph(spark, PRWCC_EDGES, PRWCC_VERTEX_IDS)
    got = _as_dict(wcc(g))
    want = wcc_oracle(PRWCC_VERTEX_IDS, PRWCC_EDGES)
    assert got == want
    # isolated vertex is its own component; component id == min member
    assert got[20] == 20
    assert got[10] == 10 and got[13] == 10


def test_wcc_random(spark):
    edges = random_graph(80, 120, seed=11)
    ids = list(range(80))
    g = make_graph(spark, edges, vertex_ids=ids)
    assert _as_dict(wcc(g)) == wcc_oracle(ids, edges)


def test_wcc_chain_diameter(spark):
    """Long chain exercises many supersteps + frontier shrink."""
    edges = [(i, i + 1) for i in range(30)]
    ids = list(range(31))
    g = make_graph(spark, edges, vertex_ids=ids)
    got = _as_dict(wcc(g, max_supersteps=40))
    assert set(got.values()) == {0}


def test_wcc_string_id_bytesid_order_parity(spark):
    """UTF8 ids must take component minima in the reference's BytesId
    order — LENGTH FIRST, then bytes (BytesUtil.compare, SURVEY §1.3):
    "b" < "aa". Minting dense ids in that order makes numeric min
    reproduce it exactly."""
    from pyspark.sql import functions as F

    from incubator_hugegraph_computer_spark.graph import Graph
    from incubator_hugegraph_computer_spark.sources.extractor import (
        mint_bytesid_ordered_ids,
    )

    str_edges = [("aa", "b"), ("b", "ccc"), ("xyz", "qq"), ("zz", "qq")]
    sdf = spark.createDataFrame(str_edges, "s string, d string")
    ids = mint_bytesid_ordered_ids(
        sdf.select(F.col("s").alias("sid")).unionAll(sdf.select(F.col("d").alias("sid")))
    ).persist()
    edges = (
        sdf.join(ids.withColumnRenamed("sid", "s").withColumnRenamed("id", "src"), "s")
        .join(ids.withColumnRenamed("sid", "d").withColumnRenamed("id", "dst"), "d")
        .select("src", "dst")
    )
    comp = wcc(Graph.from_edges(edges, num_partitions=4))
    back = (
        comp.join(ids.withColumnRenamed("id", "comp").withColumnRenamed("sid", "rep"), "comp")
        .join(ids.withColumnRenamed("sid", "member"), "id")
        .select("member", "rep")
    )
    got = {r["member"]: r["rep"] for r in back.collect()}
    # BytesId order: "b" < "aa" < "ccc"; "qq" < "xyz"/"zz"
    assert got == {
        "aa": "b", "b": "b", "ccc": "b",
        "xyz": "qq", "qq": "qq", "zz": "qq",
    }


def test_wcc_contract_matches_propagate(spark):
    """Large-star/small-star contraction must equal min-propagation on
    every graph shape — including an id-PERMUTED chain, the adversarial
    case where pointer jumping degenerates to ~1 hop/round (min-label
    pointers are shallow stars) but edge contraction stays O(log n)."""
    import random as _random

    perm = list(range(41))
    _random.Random(13).shuffle(perm)
    permuted_chain = [(perm[i], perm[i + 1]) for i in range(40)]
    for edges, ids in [
        (PRWCC_EDGES, PRWCC_VERTEX_IDS),  # includes an isolated vertex
        (random_graph(80, 120, seed=11), list(range(80))),
        (permuted_chain, perm),
    ]:
        g = make_graph(spark, edges, vertex_ids=ids)
        a = {r["id"]: r["comp"] for r in wcc(g).collect()}
        b = {r["id"]: r["comp"] for r in wcc(g, method="contract").collect()}
        assert a == b


def test_wcc_stride_matches_propagate(spark):
    """Stride-fused WCC must equal plain min-propagation, also when the
    superstep budget truncates both runs, and a 40-chain must need
    ~1/stride the barriers."""
    from incubator_hugegraph_computer_spark.plans.bsp import BspEngine

    chain_edges, chain_ids = [(i, i + 1) for i in range(40)], list(range(41))
    for edges, ids, budget in [
        (PRWCC_EDGES, PRWCC_VERTEX_IDS, 100),
        (random_graph(80, 120, seed=11), list(range(80)), 100),
        (chain_edges, chain_ids, 100),
        # 5 hops leave the chain unmerged: both methods stop at the same
        # superstep, return the same partial labels and warn
        (chain_edges, chain_ids, 5),
    ]:
        g = make_graph(spark, edges, vertex_ids=ids)
        with warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always")
            a = {r["id"]: r["comp"] for r in wcc(g, max_supersteps=budget).collect()}
            b = {
                r["id"]: r["comp"]
                for r in wcc(g, max_supersteps=budget, method="stride", stride=4).collect()
            }
        assert a == b
        warned = [w for w in caught if "not converged" in str(w.message)]
        assert len(warned) == (2 if budget == 5 else 0), [str(w.message) for w in caught]

    chain = make_graph(spark, chain_edges, vertex_ids=chain_ids).symmetrized().cache()
    engine = BspEngine(chain, max_supersteps=100, count_messages=False, stride=4)
    _, ctx = engine.run(WccProgram())
    assert len(ctx.stats) <= 12  # 40 hops / 4 per barrier + convergence detect


def test_uuid_id_bytesid_order(spark):
    """UUID ids (IdType.java:22-27, UUID=3) serialize to 16 fixed-length
    bytes, so BytesId order (length-first, then bytewise —
    BytesUtil.compare) degenerates to plain bytewise order; canonical
    lowercase-hex UUID strings sort identically, so
    mint_bytesid_ordered_ids gives the reference's UUID order directly."""
    import uuid as uuidlib

    from pyspark.sql import functions as F

    from incubator_hugegraph_computer_spark.sources.extractor import (
        mint_bytesid_ordered_ids,
    )

    uuids = [str(uuidlib.UUID(int=i * 7919, version=4)) for i in range(50)]
    df = spark.createDataFrame([(u,) for u in uuids], "sid string")
    minted = {r["sid"]: r["id"] for r in mint_bytesid_ordered_ids(df).collect()}
    # minted dense ids must be 0..N-1 in byte order of the uuid strings
    want = {u: i for i, u in enumerate(sorted(set(uuids)))}
    assert minted == want


def test_bytesid_order_multibyte(spark):
    """BytesId length is UTF-8 BYTE length, not character count
    (BytesUtil.compare runs over the serialized byte arrays): the 2-byte
    'é' ties with 2-char ASCII ids and loses the bytewise tie-break
    (0xC3.. > ASCII), and the 3-byte '日' groups with 3-char ASCII ids.
    A char-length ordering would rank both multibyte ids first."""
    from incubator_hugegraph_computer_spark.sources.extractor import (
        mint_bytesid_ordered_ids,
    )

    sids = ["é", "ab", "zz", "a", "abc", "日"]
    expected = sorted(sids, key=lambda s: (len(s.encode()), s.encode()))
    assert expected == ["a", "ab", "zz", "é", "abc", "日"]
    df = spark.createDataFrame([(s,) for s in sids], "sid string")
    minted = {r["sid"]: r["id"] for r in mint_bytesid_ordered_ids(df).collect()}
    assert minted == {s: i for i, s in enumerate(expected)}


def test_mint_uuid_ordered_ids(spark):
    """The dedicated UUID mint path (mint_uuid_ordered_ids) orders by
    the 16-byte BytesId serialization — writeLong(msb)||writeLong(lsb),
    BytesId.java:79-92 — i.e. uuid.bytes, and normalizes case (the
    serialized form has no case)."""
    import uuid as uuidlib

    from incubator_hugegraph_computer_spark.sources.extractor import (
        mint_uuid_ordered_ids,
    )

    rng_uuids = [uuidlib.UUID(int=(i * 0x9E3779B97F4A7C15) % (1 << 128)) for i in range(64)]
    # mixed-case canonical strings: ordering must follow the BYTES, not
    # the raw string (uppercase hex would sort before lowercase)
    strs = [str(u).upper() if i % 3 == 0 else str(u) for i, u in enumerate(rng_uuids)]
    df = spark.createDataFrame([(s,) for s in strs], "uid string")
    minted = {r["uid"]: r["id"] for r in mint_uuid_ordered_ids(df).collect()}
    want = {s: i for i, s in enumerate(sorted(strs, key=lambda s: uuidlib.UUID(s).bytes))}
    assert minted == want


def test_wcc_superstep_metrics_path_trace(spark):
    """Hand-derived counter trace on the path 1-2-3-4: messages_sent is
    the post-combine inbox size (distinct destinations messaged by the
    frontier), active_vertices the labels that shrank, and the trace
    ends exactly at the reference termination rule (first step with no
    messages AND no active vertices is the last row)."""
    from tests.conftest import make_graph

    from incubator_hugegraph_computer_spark.operators.wcc import (
        wcc_superstep_metrics,
    )

    g = make_graph(spark, [(1, 2), (2, 3), (3, 4)])
    rows = sorted(
        (r["superstep"], r["messages_sent"], r["active_vertices"])
        for r in wcc_superstep_metrics(g, max_supersteps=10).collect()
    )
    # step1: frontier={1,2,3,4} -> inbox dsts {1,2,3,4}; comps [1,1,2,3]
    # step2: frontier={2,3,4}   -> dsts {1,2,3,4};       comps [1,1,1,2]
    # step3: frontier={3,4}     -> dsts {2,3,4};         comps [1,1,1,1]
    # step4: frontier={4}       -> dsts {3};             nothing shrinks
    # step5: frontier empty     -> 0 messages, 0 active  -> terminate
    assert rows == [(1, 4, 3), (2, 4, 2), (3, 3, 1), (4, 1, 0), (5, 0, 0)]


def test_wcc_superstep_metrics_budget_cap(spark):
    """max_supersteps caps the trace before convergence: a 9-vertex path
    needs 9 propagation steps, so a budget of 3 yields exactly 3 rows,
    all with a non-empty frontier."""
    from tests.conftest import make_graph

    from incubator_hugegraph_computer_spark.operators.wcc import (
        wcc_superstep_metrics,
    )

    g = make_graph(spark, [(i, i + 1) for i in range(1, 9)])
    rows = wcc_superstep_metrics(g, max_supersteps=3).collect()
    assert len(rows) == 3
    assert all(r["active_vertices"] > 0 for r in rows)

"""knn_graph (cell-blocked mutual-kNN graph) properties: exact edges
on a constructed two-cell frame; complete-graph degeneration when k
covers the cell; mutual-flag symmetry; rank density."""

from __future__ import annotations

from pyspark.sql import functions as F

from blspark.ext.similarity import knn_graph, label_centroids
from tests.conftest import SF_SMOKE


def _tiny(spark):
    """Two well-separated cells: axis-ish vectors near e1 and near e2.
    Cosines inside each cell are hand-checkable."""
    rows = [
        # cell A (near [1, 0, 0, 0])
        (0, [1.0, 0.0, 0.0, 0.0], "a"),
        (1, [1.0, 0.1, 0.0, 0.0], "a"),
        (2, [1.0, 0.0, 0.1, 0.0], "a"),
        # cell B (near [0, 1, 0, 0])
        (3, [0.0, 1.0, 0.0, 0.0], "b"),
        (4, [0.1, 1.0, 0.0, 0.0], "b"),
    ]
    emb = spark.createDataFrame(rows, "vec_id int, embedding array<double>, label string")
    cents = label_centroids(emb).withColumn(
        "cell_id",
        F.when(F.col("cell_id") == "a", 0).otherwise(1).cast("int"),
    )
    return emb, cents


def test_knn_graph_tiny_exact_edges_and_mutual(spark):
    emb, cents = _tiny(spark)
    out = {
        (r["src_id"], r["dst_id"]): (r["rank"], r["mutual"])
        for r in knn_graph(emb, cents, k=1).collect()
    }
    # cell A: 0's nearest is 1 or 2 (equal cosine 1/sqrt(1.01),
    # tie-break lowest dst) -> 1; 1's nearest is 0 (cos 1/sqrt(1.01)
    # beats cos(1,2) = 1/1.01); 2's nearest is 0 likewise.
    # cell B: 3 <-> 4 trivially mutual.
    assert set(out) == {(0, 1), (1, 0), (2, 0), (3, 4), (4, 3)}
    assert out[(0, 1)] == (1, True)
    assert out[(1, 0)] == (1, True)
    assert out[(2, 0)] == (1, False)  # 0's top-1 is 1, not 2
    assert out[(3, 4)] == (1, True)
    assert out[(4, 3)] == (1, True)


def test_knn_graph_k_covering_cell_is_complete_and_all_mutual(spark):
    """With k >= max cell size - 1 the within-cell graph is complete,
    so every node emits exactly cell_size - 1 edges and EVERY edge is
    mutual (the reverse pair is always present)."""
    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    cents = label_centroids(emb).withColumn(
        "cell_id", F.col("cell_id").cast("int")
    )
    from blspark.ext.similarity import _cell_assign

    n = emb.count()
    edges = knn_graph(emb, cents, k=n).collect()
    assert all(r["mutual"] for r in edges)
    deg = {}
    for r in edges:
        deg[r["src_id"]] = deg.get(r["src_id"], 0) + 1
    # completeness is checked against the INDEPENDENTLY computed cell
    # assignment: every node in a cell of size c must emit exactly
    # c - 1 edges (so a bug that symmetrically drops a cell's rows
    # cannot hide behind mutual-flag and rank-density checks)
    assigned = _cell_assign(
        emb, cents, "vec_id", "embedding", 1, "src_id"
    ).select("src_id", "cell_id").collect()
    cell_of = {r["src_id"]: r["cell_id"] for r in assigned}
    size = {}
    for c in cell_of.values():
        size[c] = size.get(c, 0) + 1
    assert len(cell_of) == n
    for node, cell in cell_of.items():
        assert deg.get(node, 0) == size[cell] - 1, (node, cell)
    assert len(edges) == sum(c * (c - 1) for c in size.values())
    # ranks are dense 1..deg per src
    by_src = {}
    for r in edges:
        by_src.setdefault(r["src_id"], []).append(r["rank"])
    for s, ranks in by_src.items():
        assert sorted(ranks) == list(range(1, deg[s] + 1))


def test_knn_graph_mutual_flag_matches_reverse_membership(spark):
    """mutual == (reversed pair is an edge), checked both directions."""
    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    cents = label_centroids(emb).withColumn(
        "cell_id", F.col("cell_id").cast("int")
    )
    rows = knn_graph(emb, cents, k=3).collect()
    pairs = {(r["src_id"], r["dst_id"]) for r in rows}
    for r in rows:
        assert r["mutual"] == ((r["dst_id"], r["src_id"]) in pairs)
    # and per-src edge count never exceeds k
    cnt = {}
    for r in rows:
        cnt[r["src_id"]] = cnt.get(r["src_id"], 0) + 1
    assert max(cnt.values()) <= 3


# ---------------------------------------------------------------------------
# SQ8-rung graph (knn_graph_sq8)
# ---------------------------------------------------------------------------


def test_knn_graph_sq8_tiny_lossless_codes_exact_edges(spark):
    """0/1-component vectors quantize LOSSLESSLY (max|x|=1 -> scale
    1/127, code x*127 exactly), so the SQ8 ranking equals the integer
    dot ranking and every edge/score is hand-checkable: score =
    iprod / 127^2 exactly."""
    from blspark.ext.similarity import knn_graph_sq8

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0], "a"),
        (1, [1.0, 1.0, 0.0, 0.0], "a"),
        (2, [1.0, 1.0, 1.0, 0.0], "a"),
        (3, [0.0, 0.0, 0.0, 1.0], "b"),
        (4, [0.0, 1.0, 0.0, 1.0], "b"),
    ]
    emb = spark.createDataFrame(
        rows, "vec_id int, embedding array<double>, label string"
    )
    cents = label_centroids(emb).withColumn(
        "cell_id",
        F.when(F.col("cell_id") == "a", 0).otherwise(1).cast("int"),
    )
    out = {
        (r["src_id"], r["dst_id"]): (
            r["iprod"],
            r["score"],
            r["rank"],
            r["mutual"],
        )
        for r in knn_graph_sq8(emb, cents, k=1).collect()
    }
    # cell A integer dots: d(0,1)=1, d(0,2)=1 (tie -> dst 1),
    # d(1,2)=2 beats d(1,0)=1; d(2,1)=2 beats d(2,0)=1.
    # cell B: 3 <-> 4 trivially mutual.
    assert set(out) == {(0, 1), (1, 2), (2, 1), (3, 4), (4, 3)}
    c2 = 127 * 127
    assert out[(0, 1)] == (c2, 1.0, 1, False)  # (1,0) is not an edge
    assert out[(1, 2)] == (2 * c2, 2.0, 1, True)
    assert out[(2, 1)] == (2 * c2, 2.0, 1, True)
    assert out[(3, 4)] == (c2, 1.0, 1, True)
    assert out[(4, 3)] == (c2, 1.0, 1, True)


def test_knn_graph_sq8_complete_edge_set_matches_float_graph(spark):
    """With k covering every cell, both graphs are complete within
    cells — so the (src, dst) EDGE SETS must be identical (same
    shared cell assignment), even though the two rungs order
    neighbors by different scores."""
    from blspark.ext.similarity import knn_graph, knn_graph_sq8

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    cents = label_centroids(emb).withColumn(
        "cell_id", F.col("cell_id").cast("int")
    )
    n = emb.count()
    f_edges = {
        (r["src_id"], r["dst_id"]) for r in knn_graph(emb, cents, k=n).collect()
    }
    q_edges = {
        (r["src_id"], r["dst_id"])
        for r in knn_graph_sq8(emb, cents, k=n).collect()
    }
    assert f_edges == q_edges
    assert len(f_edges) > 0


def test_knn_graph_sq8_mutual_flag_matches_reverse_membership(spark):
    from blspark.ext.similarity import knn_graph_sq8

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    cents = label_centroids(emb).withColumn(
        "cell_id", F.col("cell_id").cast("int")
    )
    rows = knn_graph_sq8(emb, cents, k=3).collect()
    pairs = {(r["src_id"], r["dst_id"]) for r in rows}
    for r in rows:
        assert r["mutual"] == ((r["dst_id"], r["src_id"]) in pairs)
    cnt = {}
    for r in rows:
        cnt[r["src_id"]] = cnt.get(r["src_id"], 0) + 1
    assert max(cnt.values()) <= 3


def test_knn_edges_stateless_equals_batch_graph(spark):
    """The streaming edge path (stateless cell-assign -> quantize ->
    inline per-arrival top-k against the frozen member index) must be
    BIT-identical to the batch knn_graph_sq8 edge set (minus the
    mutual flag) — the property that makes incremental graph
    maintenance sound: scoring only arrivals provably matches a full
    rebuild."""
    from blspark.ext.similarity import (
        cell_assign_stateless,
        cell_member_index,
        knn_edges_stateless,
        knn_graph_sq8,
        sq8_quantize,
    )

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    cents = label_centroids(emb).withColumn(
        "cell_id", F.col("cell_id").cast("int")
    )
    cent_rows = [
        (r["cell_id"], list(r["centroid"])) for r in cents.collect()
    ]
    arrivals = sq8_quantize(
        cell_assign_stateless(
            emb.select(
                "vec_id", F.col("embedding").cast("array<double>").alias("vec")
            ),
            cent_rows,
        ),
        keep=("cell_id",),
    )
    stream_edges = {
        tuple(r)
        for r in knn_edges_stateless(
            arrivals, cell_member_index(emb, cents), k=3
        ).collect()
    }
    batch_edges = {
        tuple(r)
        for r in knn_graph_sq8(emb, cents, k=3)
        .select("src_id", "dst_id", "score", "iprod", "rank")
        .collect()
    }
    assert stream_edges == batch_edges
    assert len(stream_edges) > 0


def test_knn_graph_components_consistent_with_mutual_edges(spark):
    """Every mutual edge's endpoints share a component; every
    component label is the minimum node id of its members; nodes with
    no mutual edge are their own singleton component (survivor)."""
    from blspark.ext.dedup import connected_components
    from blspark.ext.similarity import knn_graph

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    cents = label_centroids(emb).withColumn(
        "cell_id", F.col("cell_id").cast("int")
    )
    edges = knn_graph(emb, cents, k=3).collect()
    mutual = {
        (r["src_id"], r["dst_id"]) for r in edges if r["mutual"]
    }
    pairs_df = spark.createDataFrame(
        [(a, b) for a, b in mutual if a < b],
        "id_a long, id_b long",
    )
    comps = {
        r["node"]: r["component"]
        for r in connected_components(
            pairs_df, emb.select("vec_id"), id_col="vec_id"
        ).collect()
    }
    n = emb.count()
    assert len(comps) == n
    for a, b in mutual:
        assert comps[a] == comps[b], (a, b)
    # labels are component minima
    members = {}
    for node, c in comps.items():
        members.setdefault(c, []).append(node)
    for c, ms in members.items():
        assert c == min(ms)
    # nodes untouched by mutual edges are singletons
    touched = {x for e in mutual for x in e}
    for node, c in comps.items():
        if node not in touched:
            assert c == node


# ---------------------------------------------------------------------------
# Hot-cell skew cap (_blocked_cell_join / max_block)
# ---------------------------------------------------------------------------


def _graph_rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_blocked_cell_join_equals_plain_join(spark):
    """The block-decomposed self-join is pair-for-pair identical to
    the plain cell join — every ordered pair of distinct rows sharing
    a cell appears exactly once, for any max_block (including one
    smaller than every cell and one larger than every cell)."""
    from blspark.ext.similarity import _blocked_cell_join

    rows = [(i, i % 3) for i in range(40)]  # 3 cells of ~13
    x = spark.createDataFrame(rows, "nid int, cell_id int")
    a = x.select(F.col("nid").alias("a_id"), "cell_id")
    b = x.select(F.col("nid").alias("b_id"), "cell_id")
    plain = sorted(
        (r["a_id"], r["b_id"])
        for r in a.join(b, "cell_id").collect()
    )
    for mb in (1, 4, 100):
        blocked = sorted(
            (r["a_id"], r["b_id"])
            for r in _blocked_cell_join(a, b, "a_id", "b_id", mb).collect()
        )
        assert blocked == plain, f"max_block={mb}"


def test_knn_graph_capped_parity_both_rungs(spark):
    """max_block changes the plan, never the answer: both rungs'
    capped output equals the uncapped output row-for-row on the real
    smoke embeddings (cells ~30-60 members, cap 8 -> 4-8 blocks)."""
    from blspark.ext.similarity import knn_graph_sq8

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    cents = label_centroids(emb).withColumn(
        "cell_id", F.col("cell_id").cast("int")
    )
    assert _graph_rows(knn_graph(emb, cents, k=3, max_block=8)) == _graph_rows(
        knn_graph(emb, cents, k=3)
    )
    assert _graph_rows(
        knn_graph_sq8(emb, cents, k=3, max_block=8)
    ) == _graph_rows(knn_graph_sq8(emb, cents, k=3))


def test_capped_hot_cell_bounded_blocks_and_exact(spark):
    """Planted hot cell (ONE centroid -> the whole corpus lands in
    one cell): the capped graph still equals the uncapped graph, and
    the hash blocks the cap pairs on are bounded — max side-block
    size stays within a small multiple of max_block (multinomial
    concentration), so no shuffle task holds the s^2 pairing."""
    import math

    from blspark.ext.similarity import knn_graph_sq8

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    # one centroid: every vector assigns to it
    dim = len(emb.select("embedding").first()[0])
    hot = spark.createDataFrame(
        [(0, [1.0] + [0.0] * (dim - 1))],
        "cell_id int, centroid array<double>",
    )
    mb = 16
    capped = knn_graph_sq8(emb, hot, k=3, max_block=mb)
    plain = knn_graph_sq8(emb, hot, k=3)
    assert _graph_rows(capped) == _graph_rows(plain)

    # audit the block sizes the cap produced: recompute the
    # deterministic block id per node and bound the largest block
    n = emb.count()
    g = math.ceil(n / mb)
    blocks = (
        emb.select(
            F.pmod(F.xxhash64(F.col("vec_id")), F.lit(g)).alias("blk")
        )
        .groupBy("blk")
        .count()
        .agg(F.max("count"))
        .first()[0]
    )
    assert blocks <= 4 * mb  # far below the s = n hot-cell extreme
    assert g >= 2  # the hot cell actually split


# ---------------------------------------------------------------------------
# Greedy beam-search retrieval (graph_expand_topk)
# ---------------------------------------------------------------------------


def test_graph_expand_finds_true_neighbors_in_cell(spark):
    """On the tiny two-cell frame the walk must recover the exact
    within-cell ranking: seeds cover both prototypes, one hop reaches
    every cell member (k covers the cells), and the rerank is exact —
    so top-k equals brute force within the query's cell."""
    from blspark.ext.similarity import graph_expand_topk, nav_graph_build

    emb, cents = _tiny(spark)
    queries = emb.filter(F.col("vec_id") == 0)
    adj, protos = nav_graph_build(emb, cents, knn_k=2)
    out = [
        (r["neighbor_id"], r["rank"])
        for r in graph_expand_topk(
            emb, queries, adj, protos, k=2, hops=2, beam=2, n_seeds=2
        )
        .orderBy("rank")
        .collect()
    ]
    # query 0 = [1,0,0,0]: nearest are 1 and 2 (cos 1/sqrt(1.01) each,
    # id tie-break), both in its cell and within one hop of any seed
    assert out == [(1, 1), (2, 2)]


def test_graph_expand_no_self_and_k_bound(spark):
    from blspark.ext.similarity import (
        graph_expand_topk,
        label_centroids,
        nav_graph_build,
    )

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    cents = label_centroids(emb).withColumn(
        "cell_id", F.col("cell_id").cast("int")
    )
    queries = emb.filter(F.col("vec_id") < 5)
    adj, protos = nav_graph_build(emb, cents, knn_k=3)
    rows = graph_expand_topk(
        emb, queries, adj, protos, k=5, hops=3, beam=3, n_seeds=2
    ).collect()
    per_q = {}
    for r in rows:
        assert r["neighbor_id"] != r["query_id"]
        per_q.setdefault(r["query_id"], []).append(r["rank"])
    for qid, ranks in per_q.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))
        assert len(ranks) <= 5


# ---------------------------------------------------------------------------
# Cross-cell long-range edges (proto_cross_edges, nav_graph_build m_cross)
# ---------------------------------------------------------------------------


def test_proto_cross_edges_tiny_connects_prototypes(spark):
    """On the two-cell frame each cell's prototype links to the OTHER
    cell's prototype (m_cross=1, only one other cell exists), and the
    endpoints really are the per-cell most-central members."""
    from blspark.ext.similarity import (
        assign_corpus,
        cell_prototypes,
        proto_cross_edges,
    )

    emb, cents = _tiny(spark)
    protos = {
        r["cell_id"]: r["prototype_id"]
        for r in cell_prototypes(emb, cents).collect()
    }
    assigned = assign_corpus(emb, cents).localCheckpoint(eager=True)
    shared = cell_prototypes(emb, cents, assigned=assigned)
    edges = {
        (r["src_id"], r["dst_id"])
        for r in proto_cross_edges(assigned, shared, m_cross=1).collect()
    }
    assert edges == {
        (protos[0], protos[1]),
        (protos[1], protos[0]),
    }


def test_xcell_adjacency_superset_and_symmetric(spark):
    """The xcell adjacency contains every within-cell edge, is
    symmetric, and its EXTRA edges connect prototypes only."""
    from blspark.ext.similarity import (
        cell_prototypes,
        label_centroids,
        nav_graph_build,
    )

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    cents = label_centroids(emb).withColumn(
        "cell_id", F.col("cell_id").cast("int")
    )
    within = {
        (r["cand_id"], r["nbr"])
        for r in nav_graph_build(emb, cents, knn_k=3)[0].collect()
    }
    xcell = {
        (r["cand_id"], r["nbr"])
        for r in nav_graph_build(emb, cents, knn_k=3, m_cross=2)[0].collect()
    }
    assert within <= xcell
    assert {(b, a) for a, b in xcell} == xcell
    protos = {
        r["prototype_id"] for r in cell_prototypes(emb, cents).collect()
    }
    for a, b in xcell - within:
        assert a in protos and b in protos


def test_xcell_recall_beats_within_at_same_budget(spark):
    """The round-12 claim behind x_graph_expand_xcell_eval: at the
    SAME deepened budget (hops=10, beam=20) the prototype-backbone
    edges recover strictly MORE true top-5 neighbors than the
    within-cell-only adjacency, and beat the 2400 bp full-cell-scan
    ceiling the r11 rung documented (measured 4000 vs 3200 bp at
    sf0.01, 3200 vs 2000 bp at sf0.1 — both SFs hold, gotcha 17)."""
    from blspark.ext.similarity import (
        cosine_topk,
        graph_expand_topk,
        nav_graph_build,
    )
    from blspark.queries.extensions10 import _det_centroids
    from tests.conftest import SF_ORACLE

    emb = (
        spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
        .filter(F.col("vec_id") < 500)
    )
    cents = _det_centroids(emb)
    queries = emb.filter((F.col("vec_id") >= 10) & (F.col("vec_id") < 15))
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk(emb, queries, k=5)
        .select("query_id", "neighbor_id")
        .collect()
    }
    tps = {}
    for tag, m_cross in (("within", 0), ("xcell", 3)):
        adj, protos = nav_graph_build(emb, cents, knn_k=3, m_cross=m_cross)
        got = {
            (r["query_id"], r["neighbor_id"])
            for r in graph_expand_topk(
                emb, queries, adj, protos,
                k=5, hops=10, beam=20, n_seeds=3,
            ).select("query_id", "neighbor_id").collect()
        }
        tps[tag] = len(got & exact)
    assert tps["xcell"] > tps["within"]
    assert tps["xcell"] * 10000 // len(exact) > 2400


# ---------------------------------------------------------------------------
# Recursive-IVF refinement (split_oversized_cells / knn_graph_split)
# ---------------------------------------------------------------------------


def test_split_preserves_membership_and_bounds(spark):
    """Every corpus vector appears exactly once in the refined
    assignment; a refined cell's primary (rcell // 4) equals the
    member's primary assignment; cells at or under the cap keep their
    members together (rcell % 4 == 0); split members land in one of
    the two sub-ids of their own primary cell."""
    from blspark.ext.similarity import (
        _cell_assign,
        label_centroids,
        split_oversized_cells,
    )

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    cents = label_centroids(emb).withColumn(
        "cell_id", F.col("cell_id").cast("int")
    )
    cap = 40
    refined = {
        r["src_id"]: r["cell_id"]
        for r in split_oversized_cells(emb, cents, max_cell=cap).collect()
    }
    primary = {
        r["src_id"]: r["cell_id"]
        for r in _cell_assign(
            emb, cents, "vec_id", "embedding", 1, "src_id"
        ).select("src_id", "cell_id").collect()
    }
    assert set(refined) == set(primary)
    size = {}
    for c in primary.values():
        size[c] = size.get(c, 0) + 1
    for node, rc in refined.items():
        assert rc // 4 == primary[node]
        if size[primary[node]] <= cap:
            assert rc % 4 == 0
        else:
            assert rc % 4 in (1, 2)
    # at least one cell split and (with this cap on smoke data) the
    # refinement produced strictly more cells than the primary set
    assert len(set(refined.values())) > len(set(primary.values()))


def test_knn_graph_split_edges_stay_within_refined_cells(spark):
    """knn_graph_split == the float pairing over the refined
    assignment: every edge joins two members of the SAME refined
    cell, and for an unsplit cell its edges match plain knn_graph's
    restricted to that cell."""
    from blspark.ext.similarity import (
        knn_graph,
        knn_graph_split,
        label_centroids,
        split_oversized_cells,
    )

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    cents = label_centroids(emb).withColumn(
        "cell_id", F.col("cell_id").cast("int")
    )
    cap = 40
    refined = {
        r["src_id"]: r["cell_id"]
        for r in split_oversized_cells(emb, cents, max_cell=cap).collect()
    }
    edges = knn_graph_split(emb, cents, k=3, max_cell=cap).collect()
    for r in edges:
        assert refined[r["src_id"]] == refined[r["dst_id"]]
    # unsplit cells: identical edge rows as the plain graph
    unsplit_nodes = {n for n, rc in refined.items() if rc % 4 == 0}
    plain = {
        (r["src_id"], r["dst_id"]): (r["cosine"], r["rank"], r["mutual"])
        for r in knn_graph(emb, cents, k=3).collect()
        if r["src_id"] in unsplit_nodes
    }
    got = {
        (r["src_id"], r["dst_id"]): (r["cosine"], r["rank"], r["mutual"])
        for r in edges
        if r["src_id"] in unsplit_nodes
    }
    assert got == plain


def test_negatives_stateless_equals_batch_operator(spark):
    """The streaming draw (inline transform/sort/slice against the
    frozen id index) must be BIT-identical to the batch operator's
    window rank over the same corpus — same nearest-other-cell map,
    same md5 keys, same tie-breaks."""
    from blspark.ext.similarity import (
        _centroid_frame,
        _nearest_other_cell,
        cell_assign_stateless,
        cell_id_members,
        label_centroids,
        negative_samples,
        negatives_stateless,
    )

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    cents = label_centroids(emb).withColumn(
        "cell_id", F.col("cell_id").cast("int")
    )
    batch = sorted(
        tuple(r) for r in negative_samples(emb, cents, k=3).collect()
    )
    cent_rows = [
        (r["cell_id"], list(r["centroid"]))
        for r in _centroid_frame(cents)
        .select("cell_id", F.col("cvec").alias("centroid"))
        .collect()
    ]
    arrivals = cell_assign_stateless(
        emb.select(
            "vec_id", F.col("embedding").cast("array<double>").alias("vec")
        ),
        cent_rows,
    )
    stream_form = sorted(
        tuple(r)
        for r in negatives_stateless(
            arrivals,
            cell_id_members(emb, cents),
            _nearest_other_cell(_centroid_frame(cents)),
            k=3,
        ).collect()
    )
    assert stream_form == batch


def test_adaptive_walk_prefix_containment_and_budget(spark):
    """The early-exit walk's per-query visited set is a PREFIX of the
    fixed walk's (converged queries stop, active queries walk
    identically) — so its results are drawn from a subset, its
    expansion ledger is smaller-or-equal hop by hop, and a query's
    activity stops at its convergence hop and never resumes."""
    from blspark.ext.similarity import (
        graph_expand_topk,
        label_centroids,
        nav_graph_build,
    )

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    cents = label_centroids(emb)
    queries = emb.filter(F.col("vec_id") < 3)
    adj, protos = nav_graph_build(emb, cents, knn_k=3, m_cross=2)
    kw = dict(k=4, hops=6, beam=4, n_seeds=2)
    fixed, fact = graph_expand_topk(
        emb, queries, adj, protos, with_activity=True, **kw
    )
    adapt, aact = graph_expand_topk(
        emb, queries, adj, protos, early_exit_k=4, with_activity=True, **kw
    )
    arows = aact.collect()
    frows = fact.collect()
    # ledger containment: every adaptive expansion is one the fixed
    # walk also performed (same hop, same query, same node)
    aset = {(r["hop"], r["query_id"], r["cand_id"]) for r in arows}
    fset = {(r["hop"], r["query_id"], r["cand_id"]) for r in frows}
    assert aset <= fset
    assert len(aset) <= len(fset)
    # per-query activity is a hop-prefix: no gaps after the stop hop
    for qid in {r["query_id"] for r in arows}:
        hops_q = sorted({r["hop"] for r in arows if r["query_id"] == qid})
        assert hops_q == list(range(len(hops_q)))
    # results are valid ranked rows and never self-matches
    for r in adapt.collect():
        assert r["neighbor_id"] != r["query_id"]
        assert 1 <= r["rank"] <= 4


def test_adaptive_walk_noop_when_never_converging(spark):
    """With early_exit_k larger than the walk can ever fill, every hop
    adds 'improving' candidates (kth best undefined = unbounded), so
    the adaptive walk IS the fixed walk — results bit-identical."""
    from blspark.ext.similarity import (
        graph_expand_topk,
        label_centroids,
        nav_graph_build,
    )

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet").filter(
        F.col("vec_id") < 40
    )
    cents = label_centroids(emb)
    queries = emb.filter(F.col("vec_id") < 2)
    adj, protos = nav_graph_build(emb, cents, knn_k=3, m_cross=2)
    kw = dict(k=3, hops=3, beam=3, n_seeds=2)
    fixed = graph_expand_topk(emb, queries, adj, protos, **kw)
    adapt = graph_expand_topk(
        emb, queries, adj, protos, early_exit_k=10_000, **kw
    )
    assert sorted(map(tuple, fixed.collect())) == sorted(
        map(tuple, adapt.collect())
    )

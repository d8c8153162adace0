"""dedup_clusters (near-dup CC resolution) and textstats.repetition.

dedup_clusters is cross-checked against an independent in-test BFS over
the same pair set (the same independence pattern test_rollup_vectorize
uses for the polygonize CC); repetition against closed-form counts.
"""
import pandas as pd
from pyspark.sql import functions as F

from terraspark.datapipe import dedup, textstats


def _bfs_components(pairs):
    adj = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    label, seen = {}, set()
    for start in sorted(adj):
        if start in seen:
            continue
        comp, todo = [], [start]
        while todo:
            n = todo.pop()
            if n in seen:
                continue
            seen.add(n)
            comp.append(n)
            todo.extend(adj[n])
        root = min(comp)
        for n in comp:
            label[n] = root
    return label


def test_dedup_clusters_matches_bfs(spark):
    # chain 1-2-3 (transitive, never directly paired 1-3), pair 10-11,
    # star 20-{21,22,23}, isolated pair 30-31
    pairs = [(1, 2), (2, 3), (10, 11), (20, 21), (20, 22), (20, 23),
             (30, 31)]
    pdf = spark.createDataFrame(
        pd.DataFrame(pairs, columns=["doc_a", "doc_b"]),
        "doc_a long, doc_b long")
    got = dedup.dedup_clusters(pdf).toPandas().sort_values("doc_id")
    want = _bfs_components(pairs)
    assert dict(zip(got["doc_id"], got["cluster"])) == want
    # keep = exactly the min member of each cluster
    keeps = set(got.loc[got["keep"], "doc_id"])
    assert keeps == {1, 10, 20, 30}
    sizes = dict(zip(got["doc_id"], got["n_members"]))
    assert sizes[3] == 3 and sizes[21] == 4 and sizes[30] == 2


def test_dedup_clusters_drop_list_shrinks_corpus(spark):
    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": list(range(6)),
        "text": ["a b c d", "a b c d", "a b c d",   # exact triplet
                 "x y z w", "x y z w",              # exact pair
                 "p q r s"],                        # singleton
    }), "doc_id long, text string")
    cand = dedup.candidate_pairs(dedup.lsh_buckets(
        dedup.minhash_signature(docs)))
    ver = dedup.jaccard_pairs(docs, cand) \
        .where(F.col("jaccard") >= 0.95).select("doc_a", "doc_b")
    out = dedup.dedup_clusters(ver).toPandas()
    # singleton (doc 5) never appears; drop list = non-canonical members
    assert set(out["doc_id"]) == {0, 1, 2, 3, 4}
    assert set(out.loc[out["keep"], "doc_id"]) == {0, 3}
    assert set(out.loc[~out["keep"], "doc_id"]) == {1, 2, 4}


def test_repetition_closed_form(spark):
    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": [0, 1, 2],
        "text": ["a b a b a",      # bigrams: ab,ba,ab,ba -> top 2/4
                 "x y z",          # bigrams: xy,yz -> all distinct
                 "solo"],          # < 2 tokens -> no bigrams, no row
    }), "doc_id long, text string")
    out = textstats.repetition(docs).toPandas().set_index("doc_id") \
        .sort_index()
    assert list(out.index) == [0, 1]
    assert out.loc[0, "n_bigrams"] == 4
    assert out.loc[0, "top_bigram_frac"] == 0.5
    assert out.loc[0, "distinct_bigram_ratio"] == 0.5
    assert out.loc[1, "n_bigrams"] == 2
    assert out.loc[1, "top_bigram_frac"] == 0.5
    assert out.loc[1, "distinct_bigram_ratio"] == 1.0


def test_pagerank_matches_numpy_power_iteration(spark):
    import numpy as np
    from terraspark.graph import pagerank

    # star + chain: 0<->1, 0<->2, 0<->3, 3<->4  (symmetrized directed)
    und = [(0, 1), (0, 2), (0, 3), (3, 4)]
    edges = [(a, b) for a, b in und] + [(b, a) for a, b in und]
    df = spark.createDataFrame(pd.DataFrame(edges, columns=["src", "dst"]),
                               "src long, dst long")
    got = pagerank(df, iters=3).toPandas().set_index("node")["pr"]

    n, d = 5, 0.85
    deg = {0: 3, 1: 1, 2: 1, 3: 2, 4: 1}
    r = {i: 1.0 / n for i in range(5)}
    for _ in range(3):
        contrib = {i: 0.0 for i in range(5)}
        for a, b in edges:
            contrib[b] += r[a] / deg[a]
        r = {i: (1 - d) / n + d * contrib[i] for i in range(5)}
    for i in range(5):
        assert abs(got[i] - r[i]) < 1e-12, i
    # hub outranks leaves; total mass conserved (no dangling nodes)
    assert got[0] == got.max()
    assert abs(got.sum() - 1.0) < 1e-9


def test_pagerank_dangling_raises_and_redistributes(spark):
    import numpy as np
    import pytest as _pytest
    from terraspark.graph import pagerank

    # directed chain with a dangling sink: 0->1->2 (2 has no out-edge)
    df = spark.createDataFrame(
        pd.DataFrame([(0, 1), (1, 2)], columns=["src", "dst"]),
        "src long, dst long")
    with _pytest.raises(ValueError, match="no out-edge"):
        pagerank(df, iters=2)

    got = pagerank(df, iters=3, dangling="redistribute") \
        .toPandas().set_index("node")["pr"]
    # rank mass conserved exactly under redistribution
    assert abs(got.sum() - 1.0) < 1e-9
    # numpy model: dangling mass spread uniformly each iteration
    n, d = 3, 0.85
    deg = {0: 1, 1: 1}
    r = {i: 1.0 / n for i in range(n)}
    for _ in range(3):
        d_mass = sum(r[i] for i in range(n) if i not in deg)
        contrib = {i: 0.0 for i in range(n)}
        for a, b in [(0, 1), (1, 2)]:
            contrib[b] += r[a] / deg[a]
        r = {i: (1 - d) / n + d * (contrib[i] + d_mass / n)
             for i in range(n)}
    for i in range(n):
        assert abs(got[i] - r[i]) < 1e-12, i


def test_kmeans_seed_plans_no_global_sort(spark):
    """The k-seed orderBy(...).limit(k) must compile to
    TakeOrderedAndProject (bounded per-partition top-k), never a full
    SortExec over the embedding table."""
    from terraspark.datapipe.similarity import with_double_vec

    emb = spark.createDataFrame(
        pd.DataFrame({"vec_id": range(100),
                      "embedding": [[float(i), 1.0] for i in range(100)]}),
        "vec_id long, embedding array<float>")
    e = with_double_vec(emb).select("vec_id", "vec").repartition(8)
    plan = (e.orderBy("vec_id").limit(8)
            ._jdf.queryExecution().executedPlan().toString())
    assert "TakeOrderedAndProject" in plan
    assert "SortExec" not in plan and "\nSort " not in plan

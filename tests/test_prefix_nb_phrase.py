"""Round-16 continuation: prefix-filter exact similarity join
(x_dedup_prefix_join), Naive Bayes classifier (x_classify_nb), and
positional phrase retrieval (x_retrieval_phrase). Value parity vs
DuckDB is the registered queries' oracle job; these pin the structural
claims those contracts rest on: prefix-join == brute force (including
the exact-boundary jaccard = 3/5 pair and df-tie orderings), the
candidate set being a superset of qualifying pairs, NB predictions
matching a pure-Python float model op for op (including unseen-token
and prior handling), planted-marker recovery, and phrase counts
matching a naive token-scan."""

from __future__ import annotations

import itertools

from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


def _sets_frame(spark, sets: dict[int, list[str]]):
    """The ``shingle_sets`` shape: one distinct-shingle array per id."""
    rows = [(i, list(dict.fromkeys(shs))) for i, shs in sets.items()]
    return spark.createDataFrame(rows, "id long, shset array<string>")


def _brute_pairs(sets: dict[int, list[str]], t_num=3, t_den=5):
    out = {}
    for a, b in itertools.combinations(sorted(sets), 2):
        sa, sb = set(sets[a]), set(sets[b])
        o = len(sa & sb)
        if o and t_den * o >= t_num * (len(sa) + len(sb) - o):
            out[(a, b)] = o
    return out


FIXTURE = {
    # A/C: J = 4/6 >= 0.6; A/D: J = 1; A/E: J = 3/5 EXACTLY (boundary,
    # must be kept); A/B: J = 3/7 < 0.6; F: killed by the length filter.
    1: ["s1", "s2", "s3", "s4", "s5"],
    2: ["s1", "s2", "s3", "t4", "t5"],
    3: ["s1", "s2", "s3", "s4", "x1"],
    4: ["s1", "s2", "s3", "s4", "s5"],
    5: ["s1", "s2", "s3"],
    6: ["s1"],
}


def test_prefix_join_equals_brute_force_fixture(spark):
    from blspark.ext.dedup import prefix_filter_pairs

    ss = _sets_frame(spark, FIXTURE)
    got = {
        (r.id_a, r.id_b): r.n_common
        for r in prefix_filter_pairs(ss).collect()
    }
    assert got == _brute_pairs(FIXTURE)
    # the boundary pair (jaccard exactly 3/5) is present
    assert (1, 5) in got


def test_prefix_join_boundary_excluded_below(spark):
    from blspark.ext.dedup import prefix_filter_pairs

    # J = 2/4 = 0.5 < 0.6: must not appear
    sets = {1: ["a", "b", "c"], 2: ["a", "b", "d"]}
    assert prefix_filter_pairs(_sets_frame(spark, sets)).count() == 0


def test_prefix_candidates_superset_of_truth(spark):
    from blspark.ext.dedup import prefix_candidates

    ss = _sets_frame(spark, FIXTURE)
    cand = {(r.id_a, r.id_b) for r in prefix_candidates(ss).collect()}
    assert set(_brute_pairs(FIXTURE)) <= cand


def test_prefix_join_equals_brute_force_corpus(spark):
    """On the sf0.001 planted-dup corpus, the prefix-filtered join and
    the full inverted-index join (same integer threshold) produce the
    identical pair set — the theorem end-to-end."""
    from blspark.ext.dedup import prefix_filter_pairs, shingle_sets
    from blspark.queries.extensions import _corpus

    ss = shingle_sets(_corpus(spark, SF_SMOKE), "doc_id", "text")
    got = {
        (r.id_a, r.id_b): (r.n_common, r.n_a, r.n_b)
        for r in prefix_filter_pairs(ss).collect()
    }
    sets = {r.id: set(r.shset) for r in ss.collect()}
    want = {}
    for a, b in itertools.combinations(sorted(sets), 2):
        o = len(sets[a] & sets[b])
        if o and 5 * o >= 3 * (len(sets[a]) + len(sets[b]) - o):
            want[(a, b)] = (o, len(sets[a]), len(sets[b]))
    assert got == want
    assert len(got) > 0


# ---------------------------------------------------------------------------
# Naive Bayes
# ---------------------------------------------------------------------------


def _py_nb(rows, n_split=5, test_bucket=0):
    """Pure-Python float model of ext/classify.nb_predictions with the
    SAME op order (pinned divisions, ordered product fold, prior
    multiply last, argmax by score desc then class asc)."""
    import hashlib
    from collections import Counter, defaultdict

    def bkt(i):
        return (
            int(hashlib.md5(str(i).encode()).hexdigest()[:6], 16) % n_split
        )

    train = [(l, t.split(" ")) for i, l, t in rows if bkt(i) != test_bucket]
    test = [(i, l, t.split(" ")) for i, l, t in rows if bkt(i) == test_bucket]
    cnt: dict = defaultdict(Counter)
    tot: Counter = Counter()
    nd: Counter = Counter()
    for l, w in train:
        cnt[l].update(w)
        tot[l] += len(w)
        nd[l] += 1
    vocab = set(t for l in cnt for t in cnt[l])
    v = len(vocab)
    ref = min(nd)
    preds = {}
    for i, l, w in test:
        best, best_s = None, None
        for c in sorted(nd):
            prior = float(nd[c]) / float(nd[ref])
            prod = 1.0
            for t in w:
                if t in vocab:
                    r = (float(cnt[c][t] + 1) / float(tot[c] + v)) / (
                        float(cnt[ref][t] + 1) / float(tot[ref] + v)
                    )
                else:
                    r = (1.0 / float(tot[c] + v)) / (
                        1.0 / float(tot[ref] + v)
                    )
                prod = prod * r
            s = prod * prior
            if best_s is None or s > best_s:
                best, best_s = c, s
        preds[i] = (l, best)
    return preds


def test_nb_matches_python_model_corpus(spark):
    """Full-path bitwise check at sf0.001: the distributed NB's
    per-doc predictions equal the pure-Python float model's on the
    planted-marker corpus (same split, same formula, same op order)."""
    from blspark.ext.classify import nb_predictions
    from blspark.queries.extensions16 import _nb_corpus

    docs = _nb_corpus(spark, SF_SMOKE)
    rows = [(r.doc_id, r.lang, r.text) for r in docs.collect()]
    want = _py_nb(rows)
    got = {
        r.doc_id: (r.true_lang, r.pred_lang)
        for r in nb_predictions(docs).collect()
    }
    assert got == want
    assert len(got) > 50


def test_nb_marked_docs_fully_recovered(spark):
    """Every held-out doc carrying the planted marker token is
    classified correctly at sf0.001 (measured 89/89; the eval's
    marked_bp floor rests on this)."""
    from blspark.ext.classify import nb_predictions
    from blspark.queries.extensions16 import _nb_corpus

    pred = nb_predictions(_nb_corpus(spark, SF_SMOKE))
    marked = pred.filter(F.col("doc_id") % 4 != 3)
    n_marked = marked.count()
    n_hit = marked.filter(
        F.col("true_lang") == F.col("pred_lang")
    ).count()
    assert n_marked > 0 and n_hit == n_marked


def test_nb_unseen_token_and_prior(spark):
    """A test doc made entirely of out-of-vocab tokens falls back to
    the smoothed prior: with ids arranged so train has class-imbalanced
    counts, the argmax is the class maximizing prior * unseen-ratio —
    computable by hand. Doc ids picked so md5-bucket puts exactly the
    intended rows in each split (bucket(id) values asserted in-test)."""
    import hashlib

    from blspark.ext.classify import nb_predictions

    def bkt(i):
        return int(hashlib.md5(str(i).encode()).hexdigest()[:6], 16) % 5

    # find ids: 8 train (bkt != 0), 1 test (bkt == 0)
    train_ids = [i for i in range(100) if bkt(i) != 0][:8]
    test_id = next(i for i in range(100) if bkt(i) == 0)
    rows = []
    # 6 docs of class 'aa' with tokens 'x y', 2 of 'bb' with 'x z'
    for k, i in enumerate(train_ids):
        if k < 6:
            rows.append((i, "aa", "x y"))
        else:
            rows.append((i, "bb", "x z"))
    rows.append((test_id, "bb", "qq rr"))  # all unseen tokens
    docs = spark.createDataFrame(
        rows, "doc_id long, lang string, text string"
    )
    got = nb_predictions(docs).collect()
    assert len(got) == 1
    # hand computation: ref = 'aa'; unseen ratio for 'aa' = 1; for
    # 'bb': (1/(4+3))/(1/(12+3)) = 15/7 per token; prior bb = 2/6.
    # score(aa) = 1, score(bb) = (15/7)^2 * (1/3) ~ 1.53 -> 'bb'
    assert got[0].pred_lang == "bb"


# ---------------------------------------------------------------------------
# Phrase retrieval
# ---------------------------------------------------------------------------


def test_phrase_counts_match_token_scan(spark):
    """x_retrieval_phrase's per-doc match counts equal a naive Python
    scan over token lists at sf0.001, for every query phrase."""
    from blspark.catalog import load_table, registry

    q = registry()["x_retrieval_phrase"]
    got = {}
    for r in q.spark_fn(spark, SF_SMOKE).collect():
        got[(r.query_id, r.doc_id)] = (r.phrase, r.n_matches, r.rank)
    docs = {
        r.doc_id: r.text.split(" ")
        for r in load_table(spark, SF_SMOKE, "documents").collect()
    }
    phrases = {
        i: docs[i][:3] for i in range(10, 15) if len(docs[i]) >= 3
    }
    # naive count of exact 3-token adjacency per (query, doc)
    want_counts = {}
    for qi, ph in phrases.items():
        for di, w in docs.items():
            n = sum(
                1
                for j in range(len(w) - 2)
                if w[j : j + 3] == ph
            )
            if n:
                want_counts[(qi, di)] = n
    for (qi, di), (phrase, n, rank) in got.items():
        assert phrase == " ".join(phrases[qi])
        assert want_counts[(qi, di)] == n
        assert 1 <= rank <= 5
    # top-5 cut: the returned set per query is the count-desc,
    # doc-asc top-5 of the naive counts
    for qi in phrases:
        naive = sorted(
            (
                (di, n)
                for (q2, di), n in want_counts.items()
                if q2 == qi
            ),
            key=lambda x: (-x[1], x[0]),
        )[:5]
        got_q = sorted(
            (di for (q2, di) in got if q2 == qi),
        )
        assert got_q == sorted(di for di, _ in naive)
        # the query doc itself contains its own phrase at position 0
        assert want_counts[(qi, qi)] >= 1


def test_nb_mapside_matches_batch(spark):
    """The map-side array scorer (the streaming-serving path) predicts
    bitwise-identically to the per-(doc,class) fold scorer on the same
    model and split — the parity s_stream_classify_nb rests on."""
    from blspark.ext.classify import (
        _nb_split,
        nb_model_arrays,
        nb_predictions,
        nb_score_mapside,
    )
    from blspark.queries.extensions16 import _nb_corpus

    docs = _nb_corpus(spark, SF_SMOKE)
    batch = {
        r.doc_id: (r.true_lang, r.pred_lang)
        for r in nb_predictions(docs).collect()
    }
    _train, test = _nb_split(docs, "doc_id", "text", "lang", 5, 0)
    got = {
        r.doc_id: (r.true_lang, r.pred_lang)
        for r in nb_score_mapside(test, nb_model_arrays(docs)).collect()
    }
    assert got == batch and len(got) > 50


# ---------------------------------------------------------------------------
# Greedy n-gram generation
# ---------------------------------------------------------------------------


def _py_greedy(docs, seeds, steps):
    """Pure-Python greedy bigram decode: argmax next by (count desc,
    token asc); chains truncate at dead-end tokens."""
    from collections import Counter

    cnt = Counter()
    for w in docs.values():
        for a, b in zip(w, w[1:]):
            cnt[(a, b)] += 1
    nxt = {}
    for (a, b), c in sorted(
        cnt.items(), key=lambda kv: (kv[0][0], -kv[1], kv[0][1])
    ):
        nxt.setdefault(a, b)
    out = {}
    for sid, seed in seeds.items():
        chain = [seed]
        for _ in range(steps):
            t = nxt.get(chain[-1])
            if t is None:
                break
            chain.append(t)
        out[sid] = chain
    return out


def test_generate_matches_python_model(spark):
    from blspark.catalog import load_table, registry

    q = registry()["x_generate_ngram"]
    rows = q.spark_fn(spark, SF_SMOKE).collect()
    docs = {
        r.doc_id: r.text.split(" ")
        for r in load_table(spark, SF_SMOKE, "documents").collect()
    }
    seeds = {i: docs[i][0] for i in range(10, 15)}
    want = _py_greedy(docs, seeds, 12)
    got = {}
    for r in rows:
        got.setdefault(r.seed_id, {})[r.step] = r.tok
    assert set(got) == set(want)
    for sid, chain in want.items():
        assert [got[sid][s] for s in sorted(got[sid])] == chain


def test_generate_dead_end_truncates(spark):
    """A chain reaching a token with no outgoing bigram stops there —
    both the trailing-NULL filter (Spark) and the recursive join
    (oracle) encode the same semantics."""
    from blspark.queries.extensions16 import generate_greedy

    docs = spark.createDataFrame(
        [(1, ["a", "b", "z"]), (2, ["b", "z"])],
        "doc_id long, w array<string>",
    )
    seeds = spark.createDataFrame(
        [(1, "a"), (2, "q")], "seed_id long, seed string"
    )
    got = {
        (r.seed_id, r.step): r.tok
        for r in generate_greedy(docs, seeds, 5).collect()
    }
    # a -> b -> z (z is a dead end); q is out-of-vocab: seed only
    assert got == {
        (1, 0): "a",
        (1, 1): "b",
        (1, 2): "z",
        (2, 0): "q",
    }


def test_prefix_incremental_equals_brute_force_corpus(spark):
    """Asymmetric prefix join under the FROZEN base-side order equals
    brute-force cross-boundary Jaccard at sf0.001 (same split as
    x_dedup_incremental_lsh: base = id%3==0, new = rest)."""
    from blspark.ext.dedup import prefix_filter_pairs, shingle_sets
    from blspark.queries.extensions import _corpus

    ss = shingle_sets(_corpus(spark, SF_SMOKE), "doc_id", "text")
    got = {
        (r.id_a, r.id_b): r.n_common
        for r in prefix_filter_pairs(
            ss.filter(F.col("id") % 3 != 0),
            base=ss.filter(F.col("id") % 3 == 0),
        ).collect()
    }
    sets = {r.id: set(r.shset) for r in ss.collect()}
    want = {}
    for a in sets:
        if a % 3 == 0:
            continue
        for b in sets:
            if b % 3 != 0:
                continue
            o = len(sets[a] & sets[b])
            if o and 5 * o >= 3 * (len(sets[a]) + len(sets[b]) - o):
                want[(a, b)] = o
    assert got == want
    assert len(got) > 0


def test_prefix_incremental_unseen_tokens(spark):
    """New-side documents whose shingles are absent from the base
    vocabulary (frozen df = 0) still join exactly: an identical
    new/base pair over base-known tokens is found, and an all-unseen
    new doc pairs with nothing."""
    from blspark.ext.dedup import prefix_filter_pairs

    base = _sets_frame(spark, {10: ["s1", "s2", "s3", "s4", "s5"]})
    new = _sets_frame(
        spark,
        {
            1: ["s1", "s2", "s3", "s4", "x9"],  # J = 4/6 >= 0.6
            2: ["u1", "u2", "u3", "u4", "u5"],  # all unseen: no pair
        },
    )
    got = {
        (r.id_a, r.id_b): r.n_common
        for r in prefix_filter_pairs(new, base=base).collect()
    }
    assert got == {(1, 10): 4}


# ---------------------------------------------------------------------------
# PCA (covariance + power iteration)
# ---------------------------------------------------------------------------


def _pca_fixture(spark, n=200, dim=8):
    """Embeddings with a planted dominant direction u (unit e0+e1
    direction, strongly varying coefficient) plus small deterministic
    per-dim noise — the top principal component must align with u."""
    rows = []
    for k in range(n):
        a = ((k * 37) % 100 - 50) / 10.0  # in [-5, 5), variance >> noise
        vec = []
        for d in range(dim):
            u_d = 1.0 if d in (0, 1) else 0.0
            noise = (((k * 13 + d * 7) % 11) - 5) / 50.0  # [-0.1, 0.1]
            vec.append(a * u_d + noise)
        rows.append((k, vec))
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )


def test_pca_covariance_matches_numpy(spark):
    import numpy as np

    from blspark.ext.linalg import covariance_matrix

    emb = _pca_fixture(spark)
    row = covariance_matrix(emb, "embedding", 8).collect()[0]
    got = np.array(row.cov)
    xs = np.array([r.embedding for r in emb.collect()])
    want = np.cov(xs, rowvar=False, bias=True)
    assert np.abs(got - want).max() < 1e-9
    # exact symmetry by construction (mirrored upper triangle)
    for i in range(8):
        for j in range(8):
            assert row.cov[i][j] == row.cov[j][i]
    assert abs(row.trace - want.trace()) < 1e-9


def test_pca_power_finds_planted_direction(spark):
    import math

    import numpy as np

    from blspark.ext.linalg import covariance_matrix, power_top_eigen

    emb = _pca_fixture(spark)
    top = power_top_eigen(
        covariance_matrix(emb, "embedding", 8), 8, 8
    ).collect()[0]
    v = top.v
    u = [1 / math.sqrt(2), 1 / math.sqrt(2)] + [0.0] * 6
    cos = abs(sum(a * b for a, b in zip(v, u)))
    assert cos > 0.99
    # eigenvalue matches numpy's top eigenvalue of the same matrix
    xs = np.array([r.embedding for r in emb.collect()])
    lam = np.linalg.eigvalsh(np.cov(xs, rowvar=False, bias=True)).max()
    assert abs(top.eigenvalue - lam) / lam < 1e-3
    # unit norm
    assert abs(sum(x * x for x in v) - 1.0) < 1e-9


def test_pca_projection_variance_is_rayleigh(spark):
    """Var of the centered projections onto the unit iterate equals
    the Rayleigh quotient (v'Cv) by construction — the consistency tie
    between x_embed_pca_project and x_pca_eval — and the projections
    track the planted coefficient."""
    from blspark.ext.linalg import (
        covariance_matrix,
        mean_vector,
        power_top_eigen,
    )

    emb = _pca_fixture(spark)
    top = power_top_eigen(
        covariance_matrix(emb, "embedding", 8), 8, 8
    ).collect()[0]
    m = mean_vector(emb, "embedding").collect()[0].m
    xs = {r.vec_id: r.embedding for r in emb.collect()}
    projs = {
        k: sum((x - mi) * vi for x, mi, vi in zip(v, m, top.v))
        for k, v in xs.items()
    }
    var = sum(p * p for p in projs.values()) / len(projs)
    # E[proj] = 0 given the exact-grid mean, up to quantization
    assert abs(sum(projs.values()) / len(projs)) < 1e-6
    assert abs(var - top.eigenvalue) / top.eigenvalue < 1e-6

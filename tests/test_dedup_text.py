import itertools

import numpy as np
import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def docs(spark):
    """Corpus with known exact and near duplicates."""
    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = "the quick brown fox jumps over the lazy dog again and again tomorrow"
    far = "completely different content about spark engines and parquet files"
    rows = [
        (0, base),
        (1, base),  # exact dup of 0
        (2, near),  # near dup of 0
        (3, far),
        (4, "short text"),
        (5, far),  # exact dup of 3
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup_groups(docs):
    from tabata_spark.operators.dedup import exact_dedup, keep_first_exact

    groups = {r["keep_id"]: r["n_dups"] for r in exact_dedup(docs).collect()}
    assert groups[0] == 2 and groups[3] == 2 and groups[2] == 1
    kept = keep_first_exact(docs)
    assert kept.count() == 4
    assert {r["doc_id"] for r in kept.select("doc_id").collect()} == {0, 2, 3, 4}


def test_token_shingles(docs):
    from tabata_spark.operators.dedup import token_shingles

    row = (
        docs.filter(F.col("doc_id") == 4)
        .select(token_shingles(F.col("text"), 3).alias("sh"))
        .first()
    )
    assert row["sh"] == ["short text"]  # shorter than n -> whole text
    row = (
        docs.filter(F.col("doc_id") == 0)
        .select(token_shingles(F.col("text"), 3).alias("sh"))
        .first()
    )
    assert "the quick brown" in row["sh"]
    assert len(row["sh"]) == len(set(row["sh"]))  # distinct


def test_bind1_let_binding_equivalence(spark):
    """r17: bind1 (the let-binding behind every n-gram builder) must be
    value-transparent — identical results to inlining the expression,
    including null propagation and empty/short inputs."""
    from tabata_spark.operators.dedup import bind1, token_shingles

    df = spark.createDataFrame(
        [(0, "a b c d e"), (1, ""), (2, None), (3, "x"), (4, "a a a a")],
        "id long, text string",
    )
    # bind1(v, f) == f(v) for a pure f, row by row
    out = df.select(
        bind1(F.split("text", " ", -1), lambda t: F.size(t)).alias("b"),
        F.size(F.split("text", " ", -1)).alias("d"),
    ).collect()
    for r in out:
        assert r["b"] == r["d"]
    # string path and Column path of token_shingles agree exactly
    # (both are let-bound; the string path is one SQL expr)
    rows = df.select(
        token_shingles("text", 3).alias("s"),
        token_shingles(F.col("text"), 3).alias("c"),
    ).collect()
    for r in rows:
        assert r["s"] == r["c"]
    by_id = {
        r["id"]: r["s"]
        for r in df.select("id", token_shingles("text", 3).alias("s")).collect()
    }
    assert by_id[0] == ["a b c", "b c d", "c d e"]
    assert by_id[1] == [""]  # empty text -> single empty-token shingle
    # null text: split -> null array; the sliding window still emits
    # one slot (greatest() skips nulls) whose join is null — [null],
    # the pre-r17 behavior, preserved exactly
    assert by_id[2] == [None]
    assert by_id[3] == ["x"]  # shorter than n -> whole text
    assert by_id[4] == ["a a a"]  # distinct keeps first occurrence


def test_ngram_jaccard_finds_near_dups(docs):
    from tabata_spark.operators.dedup import ngram_jaccard_pairs

    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs, threshold=0.0).collect()
    }
    assert pairs[(0, 1)] == 1.0  # exact dup
    assert pairs[(3, 5)] == 1.0
    assert 0.5 < pairs[(0, 2)] < 1.0  # near dup
    assert (0, 3) not in pairs  # no shared shingles


def test_ngram_jaccard_candidate_path_semantics(docs, spark):
    """Pin the candidate-verify path's contract across the r16
    single-pass array fetch (melt + regroup instead of two equi-joins):
    values identical to the no-candidates path, only requested pairs
    verified, and a candidate naming an id absent from the corpus is
    dropped, not errored or emitted."""
    from tabata_spark.operators.dedup import ngram_jaccard_pairs

    full = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs, threshold=0.0).collect()
    }
    cand = spark.createDataFrame(
        [(0, 1), (0, 2), (3, 5), (4, 999)], "id_a long, id_b long"
    )
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(
            docs, threshold=0.0, candidates=cand
        ).collect()
    }
    assert set(got) == {(0, 1), (0, 2), (3, 5)}  # 999 absent -> dropped
    for k, v in got.items():
        assert v == full[k]


def test_minhash_lsh_candidates_contain_dups(docs):
    from tabata_spark.operators.dedup import minhash_candidates, minhash_signatures

    sig = minhash_signatures(docs, num_hashes=32)
    srow = sig.filter(F.col("doc_id") == 0).first()
    assert len(srow["sig"]) == 32
    cand = {
        (r["id_a"], r["id_b"]) for r in minhash_candidates(sig, bands=8, rows=4).collect()
    }
    assert (0, 1) in cand and (3, 5) in cand  # exact dups always collide
    assert (0, 2) in cand  # high-jaccard near dup collides w.h.p.


def test_simhash_near_pairs(docs):
    from tabata_spark.operators.dedup import simhash, simhash_near_pairs

    fp = simhash(docs)
    vals = {r["doc_id"]: r["simhash"] for r in fp.collect()}
    assert vals[0] == vals[1]  # identical text -> identical fingerprint
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_near_pairs(fp, max_hamming=8).collect()
    }
    assert pairs[(0, 1)] == 0
    assert (0, 2) in pairs  # near dup within hamming 8
    assert (0, 3) not in pairs


def test_minhash_mllib_path(docs):
    from tabata_spark.operators.dedup import minhash_lsh_mllib

    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard_distance"]
        for r in minhash_lsh_mllib(docs, threshold=0.6).collect()
    }
    assert pairs[(0, 1)] == 0.0
    assert pairs[(3, 5)] == 0.0


def test_text_analysis_columns(spark):
    from tabata_spark.operators.text import with_text_analysis

    rows = [
        (0, "the cat and the dog in the house"),
        (1, "le chat et le chien est dans la maison"),
        (2, "1234 5678 !!! ??? ;;;"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in with_text_analysis(df).collect()}
    assert out[0]["lang_pred"] == "en"
    assert out[1]["lang_pred"] == "fr"
    assert out[0]["stopword_ratio"] > 0.3
    assert out[2]["digit_ratio"] > 0.3
    assert out[0]["quality"] > out[2]["quality"]  # clean text beats noise
    assert out[0]["n_tokens"] == 8
    assert len(out[0]["fingerprint"].split("|")) == 4
    # normalization-insensitive hash
    df2 = spark.createDataFrame(
        [(0, "The  cat and the dog in THE house  ")], "doc_id long, text string"
    )
    from tabata_spark.operators.text import normalized_hash

    h1 = df.filter(F.col("doc_id") == 0).select(normalized_hash("text")).first()[0]
    h2 = df2.select(normalized_hash(F.lower(F.col("text")))).first()[0]
    assert h1 == h2


def test_similarity_bruteforce_vs_lsh(spark):
    from tabata_spark.operators.similarity import (
        brute_force_topk,
        lsh_topk,
        random_planes,
    )

    rng = np.random.default_rng(0)
    vecs = rng.standard_normal((200, 16)).astype(float)
    query = vecs[7] + rng.standard_normal(16) * 0.01  # near-copy of id 7
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    exact = brute_force_topk(df, [float(x) for x in query], k=5)
    top = exact.collect()
    assert top[0]["vec_id"] == 7 and top[0]["cosine"] > 0.99
    planes = random_planes(16, n_planes=8, seed=1)
    ann = lsh_topk(df, [float(x) for x in query], planes, k=5, multiprobe=4).collect()
    assert ann[0]["vec_id"] == 7  # nearest neighbor lands in the probed buckets


def test_ivf_ann_probes_right_cell(spark):
    """IVF with a small nprobe finds the neighbor that lives in the
    query's cell; nprobe=all equals brute force exactly."""
    from tabata_spark.operators.similarity import (
        brute_force_topk,
        ivf_assign,
        ivf_topk,
        kmeans_centroids,
    )

    rng = np.random.default_rng(2)
    # three well-separated clusters
    centers = np.array([[10.0] * 8, [-10.0] * 8, [10.0, -10.0] * 4])
    vecs = np.concatenate(
        [c + rng.standard_normal((50, 8)) for c in centers]
    )
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = kmeans_centroids(df, n_centroids=3, seed=7, max_iter=10)
    query = [float(x) for x in vecs[5] + 0.01]

    # nprobe=1: scans ~1/3 of the data, still finds the true neighbor
    assigned = ivf_assign(df, cents)
    cell_counts = assigned.groupBy("ivf_cell").count().collect()
    assert len(cell_counts) == 3 and all(r["count"] == 50 for r in cell_counts)
    ann = ivf_topk(assigned, query, cents, k=3, nprobe=1, assigned=True).collect()
    assert ann[0]["vec_id"] == 5

    # nprobe=all == exact brute force, row for row
    full = ivf_topk(df, query, cents, k=10, nprobe=3).collect()
    exact = brute_force_topk(df, query, k=10).select("vec_id", "cosine").collect()
    assert [(r["vec_id"], r["cosine"]) for r in full] == [
        (r["vec_id"], r["cosine"]) for r in exact
    ]


def test_multimodal_stub_pipeline(spark):
    from tabata_spark.operators.multimodal import as_media, decode_stub, extract_features

    df = spark.createDataFrame(
        [(0, "hello world"), (1, "")], "doc_id long, text string"
    )
    media = as_media(df)
    feats = {r["doc_id"]: r for r in extract_features(media, dim=4).collect()}
    assert feats[0]["n_bytes"] == 11
    assert len(feats[0]["feat"]) == 4
    assert feats[1]["feat"] == [0.0] * 4
    # deterministic: same bytes -> same features
    np.testing.assert_allclose(
        feats[0]["feat"], decode_stub(b"hello world", 4), atol=1e-6
    )
    import hashlib

    assert feats[0]["content_hash"] == hashlib.md5(b"hello world").hexdigest()


def test_decode_real_unsupported_raises(spark):
    from tabata_spark.operators.multimodal import HAS_PIL, decode_real

    if not HAS_PIL:  # raw bytes: no native codec, no PIL fallback
        with pytest.raises(NotImplementedError):
            decode_real(b"not a media container")


def test_near_dup_pipeline_recall_on_planted_dups(spark):
    """Identical shingle sets produce identical signatures, so every
    planted exact duplicate pair MUST survive the full pipeline
    (signatures -> banding -> verify) whatever the hash seeds — a
    structural recall guarantee, checked over random corpora."""
    from tabata_spark.operators.dedup import near_dup_pairs

    words = [f"w{i}" for i in range(50)]
    for seed in (0, 1, 2):
        rng = np.random.default_rng(seed)
        docs = [
            (i, " ".join(rng.choice(words, size=30)))
            for i in range(40)
        ]
        planted = [(i, 1000 + i) for i in range(0, 40, 4)]
        dups = [(1000 + i, text) for i, text in docs if i % 4 == 0]
        df = spark.createDataFrame(docs + dups, "doc_id long, text string")
        got = {
            (r["id_a"], r["id_b"])
            for r in near_dup_pairs(df, threshold=1.0).collect()
        }
        assert set(planted) <= got, (seed, set(planted) - got)
        # every surviving pair is genuinely >= threshold (verified)
        for r in near_dup_pairs(df, threshold=1.0).collect():
            assert r["jaccard"] == 1.0


def test_near_dup_pairs_hot_bucket_passthrough(spark):
    """near_dup_pairs forwards hot_bucket to the LSH stage: a 60-copy
    boilerplate template whose band buckets all exceed the cap yields
    ZERO pairs under 'drop' but partial recall under 'salt', while a
    small planted pair (cold buckets) survives identically under both."""
    from tabata_spark.operators.dedup import near_dup_pairs

    words = [f"w{i}" for i in range(50)]
    rng = np.random.default_rng(7)
    boiler_text = " ".join(rng.choice(words, size=30))
    docs = [(i, boiler_text) for i in range(60)]  # hot: 60 ≫ cap 10
    pair_text = " ".join(rng.choice(words, size=30))
    docs += [(100, pair_text), (101, pair_text)]  # cold planted pair
    docs += [
        (200 + i, " ".join(rng.choice(words, size=30))) for i in range(20)
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")

    def pairs(policy):
        return {
            (r["id_a"], r["id_b"])
            for r in near_dup_pairs(
                df, threshold=1.0, max_bucket_size=10, hot_bucket=policy
            ).collect()
        }

    dropped, salted = pairs("drop"), pairs("salt")
    assert (100, 101) in dropped and (100, 101) in salted
    hot_dropped = {p for p in dropped if p[1] < 100}
    hot_salted = {p for p in salted if p[1] < 100}
    assert hot_dropped == set()  # every boiler bucket is over cap
    # salt: partial recall per band (each shard ≤ cap — the memory
    # bound is pinned in test_bucket_salt_keeps_partial_recall); the
    # 16 band re-rolls union toward but never past the quadratic
    assert 0 < len(hot_salted) <= 1770  # C(60,2)
    assert all(0 <= a < 60 and 0 <= b < 60 for a, b in hot_salted)


def test_near_dup_pairs_staged_matches_lazy(spark):
    """near_dup_pairs_staged is the bounded-memory sequential form of
    near_dup_pairs (SCALE.md rule 31): band-group candidate passes
    are a partition of the one-job candidate set and verify slices a
    partition of the candidates, so the verified pair set must be
    IDENTICAL to the lazy pipeline's — across degenerate (1,1), even,
    and non-dividing band_groups, and under the salt policy."""
    from pyspark.sql import functions as F

    from tabata_spark.operators.dedup import (
        near_dup_pairs,
        near_dup_pairs_staged,
    )

    words = [f"w{i}" for i in range(60)]
    rng = np.random.default_rng(11)
    docs = []
    for i in range(30):
        t = " ".join(rng.choice(words, size=25))
        docs.append((2 * i, t))
        if i % 3 == 0:
            docs.append((2 * i + 1, t))  # planted exact dup
    df = spark.createDataFrame(docs, "doc_id long, text string")

    def key(frame):
        return {
            (r["id_a"], r["id_b"], r["jaccard"]) for r in frame.collect()
        }

    lazy = key(near_dup_pairs(df, threshold=0.8, max_bucket_size=10))
    assert len(lazy) >= 10  # the planted dups are found at all
    for bg, vs in [(1, 1), (4, 3), (5, 8)]:  # 5 does not divide 16
        staged = key(
            near_dup_pairs_staged(
                df,
                threshold=0.8,
                max_bucket_size=10,
                band_groups=bg,
                verify_slices=vs,
            )
        )
        assert staged == lazy, (bg, vs)

    # salt policy passthrough parity on a hot corpus
    boiler = " ".join(rng.choice(words, size=25))
    hot = df.unionByName(
        spark.createDataFrame(
            [(1000 + i, boiler) for i in range(40)], "doc_id long, text string"
        )
    )
    lazy_salt = key(
        near_dup_pairs(hot, threshold=0.8, max_bucket_size=10,
                       hot_bucket="salt")
    )
    staged_salt = key(
        near_dup_pairs_staged(hot, threshold=0.8, max_bucket_size=10,
                              band_groups=4, verify_slices=2,
                              hot_bucket="salt")
    )
    assert staged_salt == lazy_salt

    import pytest as _pytest

    with _pytest.raises(ValueError):
        near_dup_pairs_staged(df, band_groups=0)
    with _pytest.raises(ValueError):
        near_dup_pairs_staged(df, verify_slices=0)


def test_connected_components_chain_and_singletons(spark):
    from tabata_spark.operators.dedup import (
        connected_components,
        dedup_cluster_assignments,
    )

    # 0-1-2-3-4 chain (diameter 4 → needs several propagation rounds),
    # 10-11 pair, 20 isolated (via nodes=)
    pairs = spark.createDataFrame(
        [(1, 0), (1, 2), (2, 3), (3, 4), (10, 11)], "id_a long, id_b long"
    )
    comp = {
        r["id"]: r["comp"]
        for r in connected_components(pairs, materialize=None).collect()
    }
    assert comp == {0: 0, 1: 0, 2: 0, 3: 0, 4: 0, 10: 10, 11: 10}

    docs = spark.createDataFrame(
        [(i,) for i in [0, 1, 2, 3, 4, 10, 11, 20]], "doc_id long"
    )
    rows = dedup_cluster_assignments(docs, pairs, materialize=None).collect()
    got = {r["id"]: (r["comp"], r["csize"]) for r in rows}
    assert got[20] == (20, 1)  # singleton cluster
    assert got[4] == (0, 5) and got[11] == (10, 2)
    # survivor policy: one id == comp per cluster
    survivors = [r["id"] for r in rows if r["id"] == r["comp"]]
    assert sorted(survivors) == [0, 10, 20]


def test_repetition_columns(spark):
    from tabata_spark.operators.text import repetition_columns

    df = spark.createDataFrame(
        [
            (0, "a b c d"),          # all distinct
            (1, "a a a a"),          # fully repeated
            (2, "x"),                # single token → bigram frac 0
            (3, "a b a b a b"),      # repeated bigrams
        ],
        "doc_id long, text string",
    )
    rep = repetition_columns("text")
    rows = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id",
            rep["distinct_ratio"].alias("dr"),
            rep["dup_bigram_frac"].alias("dbf"),
        ).collect()
    }
    assert rows[0]["dr"] == 1.0 and rows[0]["dbf"] == 0.0
    # 1 distinct of 3 bigrams → 1 - 1/3
    assert rows[1]["dr"] == 0.25
    assert rows[1]["dbf"] == pytest.approx(2 / 3, abs=1e-6)
    assert rows[2]["dr"] == 1.0 and rows[2]["dbf"] == 0.0
    assert rows[3]["dr"] == pytest.approx(1 / 3, abs=1e-6)
    assert rows[3]["dbf"] == 0.6  # 2 distinct bigrams of 5


def _union_find_labels(edges, nodes=None):
    """Driver oracle: {id: least id of its component} over the edge
    endpoints (self-loops alone do not make a node), or over ``nodes``."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    ids = {v for a, b in edges if a != b for v in (a, b)} if nodes is None else set(nodes)
    return {x: find(x) if x in parent else x for x in ids}


def test_connected_components_matches_union_find(spark, broadcast_threshold):
    """Property: component assignment equals a driver union-find on
    random graphs (seeded), including min-id canonical labels, on both
    paths: the default threshold (the edge set fits, so the driver
    finish: these list-built inputs carry no size estimate, so it
    follows the first signature) and threshold -1 (star rounds to the
    fixed point). Inputs carry self-loops, duplicate and reversed edges and
    negative ids; ``nodes=`` adds singletons; empty pairs give no rows."""
    import random

    from tabata_spark.operators.dedup import connected_components

    rng = random.Random(42)
    cases = []
    for _ in range(3):
        n = 60
        edges = [tuple(rng.sample(range(-20, n - 20), 2)) for _ in range(rng.randint(10, 80))]
        edges += [(b, a) for a, b in edges[:5]] + edges[5:10] + [(7, 7), (-3, -3)]
        cases.append(edges)
    cases.append([])
    default = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    for threshold, trial in itertools.product([default, "-1"], range(len(cases))):
        edges = cases[trial]
        with broadcast_threshold(spark, threshold):
            pairs = spark.createDataFrame(edges, "id_a long, id_b long")
            # persist matters here: without it every round recomputes
            # the whole lineage and chain-heavy random graphs go
            # superlinear
            got = {
                r["id"]: r["comp"]
                for r in connected_components(pairs, materialize="persist").collect()
            }
            assert got == _union_find_labels(edges), (threshold, trial)
            node_ids = list(range(-25, 45))
            nodes = spark.createDataFrame([(i,) for i in node_ids], "doc_id long")
            got = {
                r["id"]: r["comp"]
                for r in connected_components(pairs, nodes=nodes, id_col="doc_id").collect()
            }
            assert got == _union_find_labels(edges, node_ids), (threshold, trial, "nodes")


def test_lsh_neardup_planted_duplicate_recall(spark):
    """Identical embeddings share every band signature, so a planted
    exact-duplicate pair is ALWAYS a candidate and always verifies at
    any threshold — the structural recall guarantee of the banded
    hyperplane scheme."""
    import numpy as np

    from tabata_spark.operators.similarity import (
        lsh_neardup_pairs,
        random_planes,
    )

    rng = np.random.default_rng(3)
    dim = 16
    base = rng.standard_normal((50, dim))
    rows = [(i, [float(x) for x in base[i]]) for i in range(50)]
    # plant exact duplicates: 100+i duplicates i
    rows += [(100 + i, [float(x) for x in base[i]]) for i in range(0, 20, 5)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    planes = random_planes(dim, n_planes=24, seed=11)
    got = {
        (r["id_a"], r["id_b"])
        for r in lsh_neardup_pairs(
            df, planes, bands=4, threshold=0.99
        ).collect()
    }
    assert {(i, 100 + i) for i in range(0, 20, 5)} <= got
    # and nothing below the verify threshold leaks through
    assert all(
        r["cosine"] >= 0.99
        for r in lsh_neardup_pairs(df, planes, bands=4, threshold=0.99).collect()
    )


def test_pii_counts_and_redaction(spark):
    from tabata_spark.operators.text import with_pii_analysis

    rows = [
        (0, "mail me at alice.smith+x@sub.example.org or bob@ex.io today"),
        (1, "server 10.0.255.3 talked to 192.168.1.77"),
        (2, "call +44 7700-9001 or 1 555-0100 now"),
        (3, "clean text with no identifiers at all"),
        (4, "mixed: c@d.co from 8.8.8.8 tel +1 555-0199"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in with_pii_analysis(df).collect()}
    assert (got[0]["n_email"], got[0]["n_ipv4"], got[0]["n_phone"]) == (2, 0, 0)
    assert got[0]["redacted"] == "mail me at [EMAIL] or [EMAIL] today"
    assert (got[1]["n_email"], got[1]["n_ipv4"]) == (0, 2)
    assert got[1]["redacted"] == "server [IPV4] talked to [IPV4]"
    assert got[2]["n_phone"] == 2
    assert got[2]["redacted"] == "call [PHONE] or [PHONE] now"
    assert got[3]["redacted"] == rows[3][1]
    assert (got[4]["n_email"], got[4]["n_ipv4"], got[4]["n_phone"]) == (1, 1, 1)
    assert got[4]["redacted"] == "mixed: [EMAIL] from [IPV4] tel [PHONE]"


def test_line_dedup_removes_boilerplate_preserves_order(spark):
    from tabata_spark.operators.dedup import line_dedup

    rows = [
        (0, ["COOKIE BANNER", "alpha", "beta", "FOOTER"]),
        (1, ["COOKIE BANNER", "gamma", "FOOTER"]),
        (2, ["delta", "epsilon"]),
        (3, ["COOKIE BANNER", "FOOTER"]),  # fully boilerplate
    ]
    df = spark.createDataFrame(rows, "doc_id long, lines array<string>")
    got = {r["doc_id"]: r for r in line_dedup(df, max_docs=1).collect()}
    assert got[0]["lines"] == ["alpha", "beta"] and got[0]["n_removed"] == 2
    assert got[1]["lines"] == ["gamma"] and got[1]["n_removed"] == 2
    assert got[2]["lines"] == ["delta", "epsilon"] and got[2]["n_removed"] == 0
    # fully-boilerplate doc survives with an empty line list
    assert got[3]["lines"] == [] and got[3]["n_removed"] == 2
    # both boilerplate lines live in exactly 3 docs: max_docs=2 still
    # drops them, max_docs=3 tolerates everything
    got2 = {r["doc_id"]: r for r in line_dedup(df, max_docs=2).collect()}
    assert got2[0]["n_removed"] == 2
    got3 = {r["doc_id"]: r for r in line_dedup(df, max_docs=3).collect()}
    assert got3[0]["n_removed"] == 0
    assert got3[0]["lines"] == ["COOKIE BANNER", "alpha", "beta", "FOOTER"]


def test_unigram_logprob_scores(spark):
    import math

    from tabata_spark.operators.text import unigram_logprob

    rows = [
        (0, "a a a a"),        # all common tokens
        (1, "a a a z"),        # one rare token
        (2, "z z z z"),        # wait -- z now common too
    ]
    # corpus: a×7, z×5 → N=12, V=2
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in unigram_logprob(df).collect()}
    pa = math.log((7 + 1) / (12 + 2))
    pz = math.log((5 + 1) / (12 + 2))
    assert got[0]["mean_logprob"] == pytest.approx(pa)
    assert got[1]["mean_logprob"] == pytest.approx((3 * pa + pz) / 4)
    assert got[2]["mean_logprob"] == pytest.approx(pz)
    # more-typical docs score higher; ppl = exp(-score)
    assert got[0]["mean_logprob"] > got[1]["mean_logprob"] > got[2]["mean_logprob"]
    assert got[1]["ppl"] == pytest.approx(math.exp(-got[1]["mean_logprob"]))


def test_incremental_near_dup_scopes_pairs(spark):
    """new×corpus and new×new pairs are found; corpus×corpus pairs —
    even exact duplicates — are never re-emitted."""
    from tabata_spark.operators.dedup import incremental_near_dup

    corpus = spark.createDataFrame(
        [
            (0, "alpha beta gamma delta epsilon zeta"),
            (1, "alpha beta gamma delta epsilon zeta"),  # old dup: resolved long ago
            (2, "one two three four five six seven"),
        ],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [
            (10, "alpha beta gamma delta epsilon zeta"),  # dup of 0 and 1
            (11, "one two three four five six seven"),    # dup of 2
            (12, "one two three four five six seven"),    # new×new dup with 11
            (13, "totally novel content nothing shared"),
        ],
        "doc_id long, text string",
    )
    got = {
        (r["id_a"], r["id_b"])
        for r in incremental_near_dup(corpus, new, threshold=0.8).collect()
    }
    assert (0, 10) in got and (1, 10) in got
    assert (2, 11) in got and (2, 12) in got
    assert (11, 12) in got  # within-batch pair
    assert (0, 1) not in got  # corpus-internal dup never re-emitted
    assert all(a != 13 and b != 13 for a, b in got)


def test_bucket_precap_equals_postcap(spark):
    """precap drops hot buckets before the collect; result is
    identical to the default post-collect filter."""
    from tabata_spark.operators.dedup import bucket_candidate_pairs

    rows = []
    for i in range(40):
        rows.append((i, 0, 7))  # hot bucket: 40 members > cap
    for i in range(5):
        rows.append((100 + i, 1, 9))  # normal bucket
    rows.append((200, 2, 11))  # singleton
    keyed = spark.createDataFrame(rows, "__id long, band int, bh long")
    a = {
        (r["id_a"], r["id_b"])
        for r in bucket_candidate_pairs(
            keyed, ["band", "bh"], "__id", max_bucket_size=10
        ).collect()
    }
    b = {
        (r["id_a"], r["id_b"])
        for r in bucket_candidate_pairs(
            keyed, ["band", "bh"], "__id", max_bucket_size=10, precap=True
        ).collect()
    }
    assert a == b
    # only the normal bucket's pairs survive: C(5,2) = 10
    assert len(a) == 10 and all(100 <= x < 105 for p in a for x in p)


def test_containment_candidates_find_fragment_lsh_misses(spark):
    """A 40-token fragment inside a 400-token document has Jaccard
    ~0.1 — jaccard-tuned minhash LSH never collides the pair; the
    chunk-resolution candidate generator must."""
    import random

    from tabata_spark.operators.dedup import (
        containment_candidates,
        containment_pairs,
        minhash_candidates,
        minhash_signatures,
    )

    rng = random.Random(5)
    vocab = [f"tok{i}" for i in range(3000)]
    long_docs = {
        i: " ".join(rng.choice(vocab) for _ in range(400)) for i in range(20)
    }
    rows = [(i, t) for i, t in long_docs.items()]
    # doc 100: a 40-token slice out of the middle of doc 0
    frag = " ".join(long_docs[0].split(" ")[100:140])
    rows.append((100, frag))
    df = spark.createDataFrame(rows, "doc_id long, text string")

    sigs = minhash_signatures(df)
    jaccard_cands = {
        (r["id_a"], r["id_b"])
        for r in minhash_candidates(sigs, bands=16, rows=2).collect()
    }
    assert (0, 100) not in jaccard_cands  # LSH is blind to the fragment

    cands = containment_candidates(df, chunk_window=64, chunk_stride=48)
    got = {(r["id_a"], r["id_b"]) for r in cands.collect()}
    assert (0, 100) in got

    verified = containment_pairs(df, threshold=0.9, candidates=cands).collect()
    hits = {(r["id_a"], r["id_b"]): (r["c_ab"], r["c_ba"]) for r in verified}
    assert (0, 100) in hits
    c_ab, c_ba = hits[(0, 100)]
    assert max(c_ab, c_ba) > 0.9  # the fragment direction is ~fully contained


def test_bucket_salt_keeps_partial_recall(spark):
    """hot_bucket='salt' shard-splits the hot bucket instead of
    dropping it: memory stays bounded (every shard ≤ cap), cold
    buckets are untouched, and the hot bucket contributes SOME pairs
    (1/shards odds per pair) where 'drop' contributes none."""
    from tabata_spark.operators.dedup import bucket_candidate_pairs

    rows = []
    for i in range(200):
        rows.append((i, 0, 7))  # hot bucket: 200 members, cap 20
    for i in range(5):
        rows.append((1000 + i, 1, 9))  # cold bucket
    keyed = spark.createDataFrame(rows, "__id long, band int, bh long")

    salted = {
        (r["id_a"], r["id_b"])
        for r in bucket_candidate_pairs(
            keyed, ["band", "bh"], "__id", max_bucket_size=20,
            hot_bucket="salt",
        ).collect()
    }
    cold_pairs = {p for p in salted if p[0] >= 1000}
    hot_pairs = {p for p in salted if p[0] < 1000}
    # cold bucket exact: C(5,2)=10, same as the drop policy
    assert len(cold_pairs) == 10
    # hot bucket: recall > 0 (drop policy yields zero) and far below
    # the quadratic C(200,2)=19900 (memory bound held)
    assert 0 < len(hot_pairs) < 3000
    # every hot pair is genuinely from the hot bucket's members
    assert all(0 <= a < 200 and 0 <= b < 200 for a, b in hot_pairs)
    # expected shard count ceil(2*200/20)=20 -> ~10 members/shard ->
    # roughly 20 * C(10,2) ≈ 900 pairs; allow wide slack but pin the
    # order of magnitude
    assert len(hot_pairs) > 200


def test_gopher_rules_line_and_word_branches(spark):
    """The driver's documents are single-line word soup, so the oracle
    can never exercise the line-level rules — pin them on synthetic
    multiline docs: bullets, trailing ellipses, symbol ratio, alpha
    fraction, and the stop-word floor."""
    from tabata_spark.operators.text import gopher_rules

    good = (
        "the quick brown fox jumps over that lazy dog and then "
        "we have walked along with many other nice fine words here"
    )
    bullets = "\n".join(f"* item {i} of the list and that" for i in range(10))
    ellipses = "\n".join(
        ["the part that trails off and..."] * 8 + ["the one solid line and that"]
    )
    symbols = "the " + "# " * 30 + "and that have with of to be"
    numeric = "the and " + " ".join(str(i) for i in range(40))
    rows = [
        (0, good),
        (1, bullets),
        (2, ellipses),
        (3, symbols),
        (4, numeric),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    rules = gopher_rules("text", min_words=10)
    out = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id", *[c.alias(n) for n, c in rules.items()]
        ).collect()
    }
    assert out[0]["keep"]
    assert not out[1]["r_bullet_lines"]  # 10/10 bullet lines > 0.9
    assert not out[2]["r_ellipsis_lines"]  # 8/9 ellipsis lines > 0.3
    assert not out[3]["r_symbol_ratio"]  # 30 '#' on ~37 words > 0.1
    assert not out[4]["r_alpha_words"]  # 40/42 words digit-only < 0.8
    # every failing doc is excluded by the conjunction
    assert not any(out[i]["keep"] for i in (1, 2, 3, 4))


def test_semantic_dedup_blocked_equals_expression_path(spark):
    """The blocked-matmul SemDeDup variant must produce the exact keep
    set of the JVM-expression path (same clusters, same survivor
    rule), including across block boundaries."""
    import random

    from pyspark.sql import functions as F

    from tabata_spark.operators.similarity import (
        semantic_dedup,
        semantic_dedup_blocked,
    )

    rng = random.Random(5)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(16)]) for i in range(500)]
    rows += [(1000 + i, rows[i * 3][1]) for i in range(50)]  # planted copies
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    cents = [rows[s][1] for s in range(8)]
    a = sorted(
        (r["vec_id"], r["keep"])
        for r in semantic_dedup(emb, cents, 0.95).collect()
    )
    # block_size=64 forces multi-block clusters -> cross-block pairs
    b = sorted(
        (r["vec_id"], r["keep"])
        for r in semantic_dedup_blocked(
            emb, cents, 0.95, block_size=64
        ).collect()
    )
    assert a == b
    assert sum(1 for _, k in a if not k) == 50  # every planted copy dropped


def test_star_cc_equals_label_propagation(spark, broadcast_threshold):
    """The driver finish (default threshold) and the distributed star
    rounds (threshold -1) give the same components."""
    from tabata_spark.operators.dedup import connected_components
    import random

    rng = random.Random(7)
    # random clustered graph: 40 clusters of 2-8 nodes, random intra edges
    edges = []
    nid = 0
    for _ in range(40):
        size = rng.randint(2, 8)
        ids = list(range(nid, nid + size))
        nid += size + rng.randint(0, 2)  # gaps -> singleton ids exist
        for i in range(1, size):
            edges.append((ids[i], ids[rng.randrange(i)]))
        for _ in range(size // 2):
            edges.append((rng.choice(ids), rng.choice(ids)))
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    nodes = spark.range(nid).withColumnRenamed("id", "doc_id")
    a = {
        (r["id"], r["comp"])
        for r in connected_components(
            pairs, nodes=nodes, id_col="doc_id"
        ).collect()
    }
    with broadcast_threshold(spark, "-1"):
        b = {
            (r["id"], r["comp"])
            for r in connected_components(
                pairs, nodes=nodes, id_col="doc_id"
            ).collect()
        }
    assert a == b


def test_star_cc_converges_on_chain_where_label_prop_cannot(spark, broadcast_threshold):
    """A 200-node chain (diameter 199) resolves exactly on both paths
    within 12 rounds; star rounds that run out of ``max_iter`` raise
    instead of returning partial labels."""
    from tabata_spark.operators.dedup import connected_components

    n = 200
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    star = {
        (r["id"], r["comp"])
        for r in connected_components(pairs, max_iter=12).collect()
    }
    assert star == {(i, 0) for i in range(n)}
    with broadcast_threshold(spark, "-1"):
        rounds = {
            (r["id"], r["comp"])
            for r in connected_components(pairs, max_iter=12).collect()
        }
        assert rounds == star
        with pytest.raises(RuntimeError, match="did not converge in 2 rounds"):
            connected_components(pairs, max_iter=2)


def _optimized(df):
    return df._jdf.queryExecution().optimizedPlan().toString()


def _sized(spark, rows, schema):
    """A frame of ``rows`` whose plan carries its size: built from
    pandas it is a local relation, while a frame built from a Python
    list is an RDD scan Spark cannot size, which no driver finish
    collects before it has been counted."""
    import pandas as pd

    names = [f.split()[0] for f in schema.split(", ")]
    return spark.createDataFrame(pd.DataFrame(rows, columns=names), schema)


def _types(df):
    return [(f.name, f.dataType) for f in df.schema]


def _on_both_paths(spark, broadcast_threshold, build):
    """``build()`` at the session's threshold and at -1: (rows, frame)
    of each, rows sorted."""
    here = build()
    got = sorted(map(tuple, here.collect()))
    with broadcast_threshold(spark, "-1"):
        dist = build()
        want = sorted(map(tuple, dist.collect()))
    return (got, here), (want, dist)


def _hot_sigs(spark, id_type="long"):
    """60 signatures over 3 values a slot: 9 hashes per band, so
    buckets average ~7 ids and many exceed a cap of 8."""
    import random

    rng = random.Random(7)
    ids = [i if id_type == "long" else f"d{i:02d}" for i in range(60)]
    return _sized(
        spark,
        [(i, [rng.randrange(3) for _ in range(8)]) for i in ids],
        f"doc_id {id_type}, sig array<bigint>",
    )


def test_minhash_candidates_driver_finish_equals_distributed(spark, broadcast_threshold):
    """Every hot-bucket policy, with buckets over the cap: the driver
    finish (a local relation at the default threshold) returns exactly
    the distributed plan's pairs (threshold -1), with the same schema,
    for long and string ids."""
    from tabata_spark.operators.dedup import minhash_candidates

    for id_type in ("long", "string"):
        sig = _hot_sigs(spark, id_type)
        uncapped = minhash_candidates(sig, bands=4, rows=2, max_bucket_size=None).count()
        for kw in ({}, {"precap": True}, {"hot_bucket": "salt"}):
            (got, here), (want, dist) = _on_both_paths(
                spark,
                broadcast_threshold,
                lambda: minhash_candidates(sig, bands=4, rows=2, max_bucket_size=8, **kw),
            )
            assert got == want and 0 < len(got) < uncapped, (id_type, kw)
            assert all(a < b for a, b in got)
            assert _types(here) == _types(dist), (id_type, kw)
            assert "Aggregate" not in _optimized(here), kw
            assert "Aggregate" in _optimized(dist), kw


def test_simhash_pairs_driver_finish_equals_distributed(spark, broadcast_threshold):
    """simhash_near_pairs under drop and salt, with blocks over the
    cap and negative fingerprints: both paths give the same
    (id_a, id_b, hamming) rows and schema."""
    import random

    from tabata_spark.operators.dedup import simhash_near_pairs

    rng = random.Random(3)
    heads = [0, 1, 3, 7, 255, 1 << 40, -1, -5]
    fp = _sized(
        spark,
        [(i, rng.choice(heads) ^ rng.randrange(16)) for i in range(80)],
        "doc_id long, simhash long",
    )
    for kw in ({}, {"hot_block": "salt"}):
        (got, here), (want, dist) = _on_both_paths(
            spark,
            broadcast_threshold,
            lambda: simhash_near_pairs(fp, max_hamming=3, max_bucket_size=10, **kw),
        )
        assert got == want and got, kw
        assert _types(here) == _types(dist)
        assert "Aggregate" not in _optimized(here), kw


def test_staged_and_embedding_pairs_driver_finish_equals_distributed(
    spark, docs, broadcast_threshold, monkeypatch
):
    """The other callers of bucket_candidate_pairs: the staged near-dup
    passes and the embedding LSH of similarity.py give the same pairs
    on both paths, and the default threshold does finish on the
    driver."""
    from tabata_spark.operators import dedup
    from tabata_spark.operators.similarity import lsh_neardup_pairs, random_planes

    finishes = []

    def counted(*a):
        finishes.append(a)
        return local_frame(*a)

    local_frame = dedup._local_frame
    monkeypatch.setattr(dedup, "_local_frame", counted)
    corpus = spark.createDataFrame(docs.toPandas(), docs.schema)

    def staged():
        return dedup.near_dup_pairs_staged(
            corpus, threshold=0.5, band_groups=2, verify_slices=2
        )

    finishes.clear()
    (got, _), (want, _) = _on_both_paths(spark, broadcast_threshold, staged)
    assert got == want and {(0, 1), (3, 5)} <= {(a, b) for a, b, _ in got}
    assert len(finishes) == 2  # one per band group, none at -1
    rng = np.random.default_rng(5)
    base = rng.standard_normal((30, 8))
    rows = [(i, [float(x) for x in base[i % 20]]) for i in range(30)]
    emb = _sized(spark, rows, "vec_id long, embedding array<float>")
    planes = random_planes(8, n_planes=12, seed=4)
    finishes.clear()
    (got, _), (want, _) = _on_both_paths(
        spark,
        broadcast_threshold,
        lambda: lsh_neardup_pairs(emb, planes, bands=3, threshold=0.9, max_bucket_size=6),
    )
    assert got == want and {(i, i + 20) for i in range(10)} <= {(a, b) for a, b, _ in got}
    assert len(finishes) == 1


def test_bucket_pairs_driver_cut_over_edges(spark, broadcast_threshold, jobs_run_by):
    """The cut-over's edges. Empty input: both paths empty. A streaming
    frame stays distributed and is never collected. An estimate over
    the threshold costs no job. An estimate under the threshold whose
    rows exceed L, or whose bucket pairs would exceed L, falls back to
    the distributed plan, with the same pairs."""
    from tabata_spark.operators.dedup import (
        _driver_rows,
        bucket_candidate_pairs,
        minhash_candidates,
        simhash_near_pairs,
    )

    empty = _sized(spark, [], "doc_id long, sig array<bigint>")
    (got, here), (want, dist) = _on_both_paths(
        spark, broadcast_threshold, lambda: minhash_candidates(empty, bands=4, rows=2)
    )
    assert got == want == [] and _types(here) == _types(dist)

    stream = spark.readStream.format("rate").option("rowsPerSecond", 1).load()
    keyed = stream.select(
        (F.col("value") % 3).cast("int").alias("band"),
        (F.col("value") % 5).alias("bh"),
        F.col("value").alias("__id"),
    )
    assert jobs_run_by(spark, lambda: _driver_rows(keyed)) == []
    assert _driver_rows(keyed) is None
    assert bucket_candidate_pairs(keyed, ["band", "bh"], "__id").isStreaming
    fp = stream.select(F.col("value").alias("doc_id"), (F.col("value") * 7919).alias("simhash"))
    assert simhash_near_pairs(fp).isStreaming

    huge = spark.range(10**10)
    assert jobs_run_by(spark, lambda: _driver_rows(huge)) == []
    assert _driver_rows(huge) is None

    # 4,000 rows of (int, long, long) = 20 bytes each from an explode
    # the estimate does not see: at a 20,000-byte threshold L = 1,000
    ids = spark.range(1).select(F.explode(F.sequence(F.lit(0), F.lit(3999))).alias("__id"))
    many = ids.select(
        (F.col("__id") % 2).cast("int").alias("band"), (F.col("__id") % 500).alias("bh"), "__id"
    )
    # one 400-row bucket: 400 rows fit L, its 79,800 pairs do not
    one = ids.filter(F.col("__id") < 400).select(
        F.lit(0).alias("band"), F.lit(0).cast("long").alias("bh"), "__id"
    )
    for keyed, cap in ((many, 100), (one, None)):
        with broadcast_threshold(spark, "20000"):
            est = keyed._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
            assert est <= 20000
            here = bucket_candidate_pairs(keyed, ["band", "bh"], "__id", max_bucket_size=cap)
            assert "Aggregate" in _optimized(here)
            got = sorted(map(tuple, here.collect()))
        with broadcast_threshold(spark, "-1"):
            want = sorted(
                map(
                    tuple,
                    bucket_candidate_pairs(
                        keyed, ["band", "bh"], "__id", max_bucket_size=cap
                    ).collect(),
                )
            )
        assert got == want and got
    with broadcast_threshold(spark, "20000"):
        assert _driver_rows(many) is None
        assert len(_driver_rows(one)) == 400


def test_bm25_ranking_properties(spark):
    from tabata_spark.operators.text import bm25_rank

    docs = spark.createDataFrame(
        [
            (0, "alpha beta gamma delta"),          # no query terms -> 0
            (1, "join join join filler filler"),    # heavy on one term
            (2, "join hash filler filler filler"),  # two distinct terms
            (3, "rare rare rare rare rare"),
            (4, "join filler filler filler filler"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["score"] for r in bm25_rank(docs, ["join", "hash"]).collect()}
    assert out[0] == 0.0 and out[3] == 0.0
    # two distinct terms beat repeats of one (idf additivity + tf saturation)
    assert out[2] > out[1] > out[4] > 0
    topk = bm25_rank(docs, ["join", "hash"], k=2).collect()
    assert [r["doc_id"] for r in topk] == [2, 1]


def test_inverted_index_precap_and_postings(spark):
    from tabata_spark.operators.text import inverted_index

    docs = spark.createDataFrame(
        [
            (0, "common alpha beta"),
            (1, "common alpha gamma"),
            (2, "common beta gamma"),
            (3, "common delta delta"),  # within-doc repeat counts once
        ],
        "doc_id long, text string",
    )
    idx = {r["term"]: r for r in inverted_index(docs, min_df=2, max_df=3).collect()}
    assert "common" not in idx  # df=4 > max_df -> precapped out
    assert "delta" not in idx  # df=1 < min_df
    assert idx["alpha"]["df"] == 2 and idx["alpha"]["postings"] == [0, 1]
    assert idx["gamma"]["postings"] == [1, 2]


def test_session_sequences_gap_and_order(spark):
    import datetime as dt

    from tabata_spark.operators.sequences import session_sequences

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        # user 1: two sessions split by a 31-min gap; in-session order
        # must follow (ts, event_id) even when rows arrive shuffled
        (3, t0 + dt.timedelta(minutes=2), 1, "c"),
        (1, t0, 1, "a"),
        (2, t0 + dt.timedelta(minutes=1), 1, "b"),
        (4, t0 + dt.timedelta(minutes=33), 1, "d"),
        (5, t0 + dt.timedelta(minutes=34), 1, "e"),
        # user 2: same-ts tie broken by event_id
        (7, t0, 2, "y"),
        (6, t0, 2, "x"),
    ]
    ev = spark.createDataFrame(
        [(i, ts, u, e) for i, ts, u, e in rows],
        "event_id long, ts timestamp, user_id long, event_type string",
    )
    out = {
        (r["user_id"], r["session_id"]): r
        for r in session_sequences(ev, gap_min=30.0).collect()
    }
    assert out[(1, 1)]["seq"] == "a b c" and out[(1, 1)]["n_events"] == 3
    assert out[(1, 2)]["seq"] == "d e"
    assert out[(2, 1)]["seq"] == "x y"


def test_new_ops_empty_input_paths(spark, tmp_path, broadcast_threshold):
    from tabata_spark.core.maintenance import zorder_write
    from tabata_spark.operators.dedup import connected_components
    from tabata_spark.operators.sampling import domain_cap
    from tabata_spark.operators.text import bm25_rank, inverted_index

    empty_docs = spark.createDataFrame([], "doc_id long, text string")
    assert bm25_rank(empty_docs, ["x"]).count() == 0
    assert inverted_index(empty_docs, max_df_frac=0.5).count() == 0
    empty_rows = spark.createDataFrame([], "doc_id long, source string")
    assert domain_cap(empty_rows, cap=5, shards=4).count() == 0
    # shards=1 degenerates to the plain plan
    one = spark.createDataFrame([(1, "a"), (2, "a")], "doc_id long, source string")
    assert domain_cap(one, cap=1, shards=1).count() == 1
    empty_pairs = spark.createDataFrame([], "id_a long, id_b long")
    with broadcast_threshold(spark, "-1"):
        assert connected_components(empty_pairs).count() == 0
    zp = str(tmp_path / "z_empty")
    ze = spark.createDataFrame([], "rid long, x long, y long")
    assert zorder_write(ze, zp, cols=["x", "y"]) == {}
    assert spark.read.parquet(zp).count() == 0


def test_collocations_rank_planted_phrase(spark):
    from tabata_spark.operators.text import collocations

    # 'aa bb' always adjacent (perfect collocation); 'cc' and 'dd'
    # frequent but never adjacent to each other
    docs = spark.createDataFrame(
        [(i, f"aa bb cc x{i} dd cc x{i} dd") for i in range(10)],
        "doc_id long, text string",
    )
    out = {(r["a"], r["b"]): r for r in collocations(docs, min_count=5).collect()}
    assert ("aa", "bb") in out
    best = max(out.values(), key=lambda r: r["pmi"])
    assert (best["a"], best["b"]) == ("aa", "bb")
    assert out[("aa", "bb")]["c_ab"] == 10
    assert ("cc", "dd") not in out  # never adjacent


def test_index_search_scores_and_bounds(spark):
    from tabata_spark.operators.text import index_search, inverted_index

    docs = spark.createDataFrame(
        [
            (0, "red fox jumps high"),
            (1, "red fox sleeps"),
            (2, "blue fox jumps"),
            (3, "red wolf jumps"),
            (4, "green snake sleeps"),
        ],
        "doc_id long, text string",
    )
    idx = inverted_index(docs)  # unigram, no caps
    q = spark.createDataFrame(
        [(1, ["red", "fox", "jumps"])], "query_id long, terms array<string>"
    )
    out = {r["id"]: r for r in index_search(q, idx, n_docs=5, k=10).collect()}
    assert 4 not in out  # zero matched terms -> never a candidate
    assert out[0]["n_hit"] == 3  # all three terms
    # doc0 (3 hits) must outrank every 2-hit doc; rarer terms weigh more
    assert all(out[0]["score"] > out[i]["score"] for i in (1, 2, 3))
    import math

    expect = sum(math.log(5 / df) for df in (3, 3, 3))  # red, fox, jumps dfs
    assert abs(out[0]["score"] - expect) < 1e-9


def test_hard_negatives_exclude_same_label(spark, sf_dir):
    from pyspark.sql import functions as F

    from tabata_spark.operators.similarity import hard_negatives

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") == 7).withColumnRenamed("vec_id", "query_id")
    q_label = q.select("label").head()[0]
    # plant a same-label EXACT copy — the closest possible vector must
    # still be excluded
    dup = q.select(
        F.lit(999_999).alias("vec_id"), "embedding", F.lit(q_label).alias("label")
    )
    corpus = emb.filter(F.col("vec_id") != 7).unionByName(dup)
    out = hard_negatives(q, corpus, k=5)
    rows = out.collect()
    assert len(rows) == 5
    got_ids = {r["vec_id"] for r in rows}
    assert 999_999 not in got_ids
    labels = {
        r["label"]
        for r in corpus.join(out.select("vec_id"), "vec_id", "left_semi").collect()
    }
    assert q_label not in labels


def test_index_searcher_handle_matches_stored_search(spark, sf_dir, tmp_path):
    from pyspark.sql import functions as F

    from tabata_spark.operators.text import (
        build_inverted_index,
        make_index_searcher,
        stored_index_search,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    path = str(tmp_path / "idx")
    build_inverted_index(docs, path, n_buckets=8, min_df=2, max_df_frac=0.5, ngram=3)
    search = make_index_searcher(spark, path)
    from tabata_spark.operators.text import load_inverted_index

    idx, _, _ = load_inverted_index(spark, path)
    terms = [r["term"] for r in idx.orderBy(F.desc("df"), "term").limit(2).collect()]
    q = spark.createDataFrame([(1, terms)], "query_id long, terms array<string>")
    a = sorted(map(tuple, search(q, k=5, terms=terms).collect()))
    b = sorted(map(tuple, stored_index_search(spark, path, q, k=5).collect()))
    assert a == b and a


def test_index_search_set_semantics_for_repeated_terms(spark):
    from tabata_spark.operators.text import index_search, inverted_index

    docs = spark.createDataFrame(
        [(0, "x y"), (1, "x z"), (2, "w v")], "doc_id long, text string"
    )
    idx = inverted_index(docs)
    once = spark.createDataFrame([(1, ["x"])], "query_id long, terms array<string>")
    twice = spark.createDataFrame([(1, ["x", "x"])], "query_id long, terms array<string>")
    a = sorted(map(tuple, index_search(once, idx, n_docs=3).collect()))
    b = sorted(map(tuple, index_search(twice, idx, n_docs=3).collect()))
    assert a == b


def test_domain_similarity_counts(spark):
    from tabata_spark.operators.text import domain_similarity

    docs = spark.createDataFrame(
        [
            (0, "A", "x y z w"),      # grams: {x,y,z,w} (unigram mode)
            (1, "A", "x q"),          # A = {x,y,z,w,q}
            (2, "B", "x y r"),        # B = {x,y,r}
            (3, "C", "s t"),          # C disjoint from A,B
        ],
        "doc_id long, source string, text string",
    )
    out = {
        (r["domain_a"], r["domain_b"]): r
        for r in domain_similarity(docs, ngram=1).collect()
    }
    ab = out[("A", "B")]
    assert (ab["n_a"], ab["n_b"], ab["n_common"]) == (5, 3, 2)
    # disjoint pairs simply don't appear (no common gram -> no row)
    assert ("A", "C") not in out and ("B", "C") not in out


def test_bigram_ppl_detects_shuffled_text(spark):
    # word-order sensitivity: a doc whose bigrams follow the corpus
    # pattern scores higher than the same tokens shuffled
    from tabata_spark.operators.text import bigram_logprob

    base = [(i, "the cat sat on the mat today") for i in range(20)]
    docs = spark.createDataFrame(
        base + [(100, "the cat sat on the mat today"),
                (101, "mat the today cat on sat the")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["mean_logprob"] for r in bigram_logprob(docs).collect()}
    assert out[100] > out[101]


def test_dedup_ingest_batch_atomic_exactly_once(spark, tmp_path):
    """Continuous-ingestion dedup gate over ONE transactional table
    holding (doc_id, text, sig): batch-internal dups keep the min id,
    new docs near-dupping the stored corpus are dropped, signatures
    land in the same atomic commit as their documents, and replaying
    a batch under its txn token is a no-op (exactly-once)."""
    from tabata_spark.operators.dedup import dedup_ingest_batch
    from tabata_spark.sources.txlog import tx_history, tx_read

    root = str(tmp_path / "corpus")
    dup = "the quick brown fox jumps over the lazy dog again and again"
    uniq1 = "completely different text about spark dataframes and shuffles here"
    uniq2 = "a brand new unique document mentioning catalyst and tungsten engines"

    b1 = spark.createDataFrame(
        [(1, dup), (2, dup), (3, uniq1)], "doc_id long, text string"
    )
    v1 = dedup_ingest_batch(spark, root, b1, txn="b1")
    assert v1 == 1
    assert sorted(r["doc_id"] for r in tx_read(spark, root).collect()) == [1, 3]

    b2 = spark.createDataFrame(
        [(10, dup), (11, uniq2), (12, uniq2)], "doc_id long, text string"
    )
    v2 = dedup_ingest_batch(spark, root, b2, txn="b2")
    # 10 near-dups stored doc 1 -> dropped; 12 dups batch-mate 11 -> dropped
    assert sorted(r["doc_id"] for r in tx_read(spark, root).collect()) == [1, 3, 11]

    # signatures live in the SAME table/commit (one atomic action),
    # and are the real minhash of the text
    stored = {r["doc_id"]: r["sig"] for r in tx_read(spark, root).collect()}
    from tabata_spark.operators.dedup import minhash_signatures

    expect11 = minhash_signatures(
        b2.filter(F.col("doc_id") == 11)
    ).collect()[0]["sig"]
    assert stored[11] == expect11

    # exactly-once: replaying batch 2 returns its version, adds nothing
    assert dedup_ingest_batch(spark, root, b2, txn="b2") == v2
    assert tx_read(spark, root).count() == 3
    assert len(tx_history(root)) == 2  # no third commit


def test_salt_band_decorrelation_recovers_planted_dups(spark):
    """The salt policy's recall claim (dedup.py bucket_candidate_pairs
    docstring): a true pair parked in one band's hot bucket re-rolls
    its 1/shards odds in EVERY band, because the shard hash includes
    the band key. Plant 40 true-dup pairs whose members sit in a hot
    bucket in all 4 bands: drop recall is ZERO, salted single-band
    recall is partial, and the 4-band union strictly improves on the
    best single band — the decorrelation is what a fleet of bands
    buys. Also pins the engine-portable md5 salt_hash variant (the
    dedup_minhash_salted oracle replays it) against the default
    xxhash64 path: same bounded-shard structure, same planted-pair
    guarantee."""
    from pyspark.sql import functions as F

    from tabata_spark.operators.dedup import (
        bucket_candidate_pairs,
        md5_token_hash,
    )

    # 40 planted pairs (i, i+1000): both members land in bucket bh=7
    # of every band 0..3 — an 80-member hot bucket per band (cap 10)
    rows = []
    for band in range(4):
        for i in range(40):
            rows.append((i, band, 7))
            rows.append((1000 + i, band, 7))
    keyed = spark.createDataFrame(rows, "__id long, band int, bh long")
    planted = {(i, 1000 + i) for i in range(40)}

    def recovered(df):
        got = {(r["id_a"], r["id_b"]) for r in df.collect()}
        return got & planted

    drop = recovered(
        bucket_candidate_pairs(keyed, ["band", "bh"], "__id", max_bucket_size=10)
    )
    assert drop == set()

    one_band = recovered(
        bucket_candidate_pairs(
            keyed.filter(F.col("band") == 0),
            ["band", "bh"], "__id", max_bucket_size=10, hot_bucket="salt",
        )
    )
    all_bands = recovered(
        bucket_candidate_pairs(
            keyed, ["band", "bh"], "__id", max_bucket_size=10,
            hot_bucket="salt",
        )
    )
    # nsub = ceil(2*80/10) = 16 shards -> ~1/16 odds per band; four
    # decorrelated bands beat any one of them on these fixed hashes
    assert len(one_band) > 0
    assert one_band <= all_bands
    assert len(all_bands) > len(one_band)

    portable = recovered(
        bucket_candidate_pairs(
            keyed, ["band", "bh"], "__id", max_bucket_size=10,
            hot_bucket="salt",
            salt_hash=lambda idc, keys: md5_token_hash(
                F.concat_ws(":", idc, *keys)
            ),
        )
    )
    assert len(portable) > 0  # different hash, same structural guarantee


def test_simhash_salt_recovers_hot_block_pairs(spark):
    """simhash_near_pairs(hot_block='salt') — the minhash salt policy
    on the pigeonhole join: a 200-doc cluster sharing ONE fingerprint
    overruns every block bucket (cap 20), so 'drop' loses the whole
    cluster; 'salt' shard-splits each hot block into ceil(2n/cap)=20
    shards and pigeonhole (200 members, 20 shards) GUARANTEES some
    shard holds >= 2 members — partial recall where drop has zero.
    Cold clusters are untouched either way."""
    from tabata_spark.operators.dedup import simhash_near_pairs

    rows = [(i, 0x0123456789AB) for i in range(200)]  # hot: identical fp
    rows += [(1000 + i, 0x7777000011112222) for i in range(5)]  # cold
    fp = spark.createDataFrame(rows, "doc_id long, simhash long")

    def pairs(policy):
        return {
            (r["id_a"], r["id_b"], r["hamming"])
            for r in simhash_near_pairs(
                fp, max_hamming=3, max_bucket_size=20, hot_block=policy
            ).collect()
        }

    drop = pairs("drop")
    salt = pairs("salt")
    cold_expected = {
        (1000 + a, 1000 + b, 0) for a in range(5) for b in range(a + 1, 5)
    }
    assert drop == cold_expected  # hot cluster fully lost under drop
    assert cold_expected <= salt  # cold cluster identical under salt
    hot = {p for p in salt if p[0] < 1000}
    assert len(hot) > 0  # pigeonhole: recall in the hot cluster
    assert all(h == 0 for _, _, h in hot)
    # memory bound held: far below the quadratic C(200,2) = 19900
    assert len(hot) < 8000

    # salt_hash= (engine-portable shard hash, the oracle-replayable
    # variant dedup_simhash_salted certifies): different hash, same
    # structural guarantees — cold cluster intact, hot cluster
    # partially recovered, bound held
    from tabata_spark.operators.dedup import md5_token_hash

    portable = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in simhash_near_pairs(
            fp, max_hamming=3, max_bucket_size=20, hot_block="salt",
            salt_hash=lambda idc, keys: md5_token_hash(
                F.concat_ws(":", idc, *keys)
            ),
        ).collect()
    }
    assert cold_expected <= portable
    portable_hot = {p for p in portable if p[0] < 1000}
    assert len(portable_hot) > 0
    assert len(portable_hot) < 8000
    assert portable_hot != hot  # genuinely different shard assignment


def test_staged_unpersists_intermediates(spark):
    """near_dup_pairs_staged frees superseded intermediates (the
    signature table and per-group candidate parts after the distinct
    union, the shingle arrays and the candidate set after the last
    verify slice) — only the returned verified slices stay cached, so
    repeated calls do not accumulate executor storage (ADVICE r15)."""
    from pyspark.sql import functions as F

    from tabata_spark.operators.dedup import near_dup_pairs_staged

    words = [f"w{i}" for i in range(60)]
    rng = np.random.default_rng(13)
    docs = []
    for i in range(30):
        t = " ".join(rng.choice(words, size=25))
        docs.append((2 * i, t))
        if i % 3 == 0:
            docs.append((2 * i + 1, t))
    df = spark.createDataFrame(docs, "doc_id long, text string")

    def n_cached():
        return spark.sparkContext._jsc.sc().getPersistentRDDs().size()

    base = n_cached()
    out = near_dup_pairs_staged(df, band_groups=4, verify_slices=3)
    assert out.count() >= 10
    # only the 3 verify slices remain cached; arr/sig/cand_parts/cand
    # (7 intermediates at these settings) were unpersisted
    assert n_cached() - base <= 3
    # the returned union stays computable from the cached slices
    assert out.count() >= 10


def test_staged_sig_store_reused_by_incremental_ingest(spark, tmp_path):
    """VERDICT r15 #7: the signature table a staged build writes
    (sig_store=) is the thing a recurring ingest reuses — batch-2
    incremental_near_dup fed the STORED signatures produces pairs
    identical to a from-scratch run that recomputes the corpus
    signatures."""
    from pyspark.sql import functions as F

    from tabata_spark.operators.dedup import (
        incremental_near_dup,
        near_dup_pairs_staged,
        read_signature_store,
    )

    words = [f"w{i}" for i in range(60)]
    rng = np.random.default_rng(17)
    corpus_rows = [
        (i, " ".join(rng.choice(words, size=25))) for i in range(40)
    ]
    corpus = spark.createDataFrame(corpus_rows, "doc_id long, text string")
    store = str(tmp_path / "sig_store")

    # batch 1: staged build over the corpus, signatures persisted
    pairs1 = near_dup_pairs_staged(
        corpus, band_groups=2, verify_slices=2, sig_store=store
    )
    pairs1.count()

    # batch 2: near-dups of the corpus + exact copies of 5 corpus docs
    batch = spark.createDataFrame(
        [(1000 + i, corpus_rows[i][1]) for i in range(5)],
        "doc_id long, text string",
    )

    def key(frame):
        return {
            (r["id_a"], r["id_b"], r["jaccard"]) for r in frame.collect()
        }

    stored = read_signature_store(spark, store)
    reused = key(
        incremental_near_dup(corpus, batch, corpus_sigs=stored)
    )
    scratch = key(incremental_near_dup(corpus, batch))
    assert reused == scratch
    assert len(reused) >= 5  # every planted copy pairs with its source

    # the reader validates the store contract
    import pytest as _pytest

    corpus.write.mode("overwrite").parquet(str(tmp_path / "not_sigs"))
    with _pytest.raises(ValueError, match="missing column"):
        read_signature_store(spark, str(tmp_path / "not_sigs"))

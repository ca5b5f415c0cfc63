"""Dedup families + similarity search: exact semantics and
approximate-vs-exact validation (the approximate operators have no SQL
oracle; the exact ones ARE their oracle)."""

import pytest
from pyspark.sql import functions as F

from dq import dedup, similarity, textstats

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").cache()


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").cache()


# ------------------------------------------------------------- textstats

def test_token_stats_crafted(spark):
    df = spark.createDataFrame(
        [(1, "the cat  sat on the mat"), (2, ""), (3, None), (4, "  x  "),
         (5, "café2024, ok!?")],
        "id long, text string")
    out = {r["id"]: r for r in textstats.with_text_stats(df).collect()}
    assert out[1]["n_tokens"] == 6
    # sub-word count: letter runs, digit runs and single symbols
    assert [out[i]["n_bpe_tokens"] for i in (1, 2, 3, 4, 5)] \
        == [6, 0, 0, 1, 6]               # café|2024|,|ok|!|?
    assert out[1]["n_distinct_tokens"] == 5          # 'the' twice
    assert out[1]["token_len_sum"] == 17
    assert out[2]["n_tokens"] == 0 and out[3]["n_tokens"] == 0
    assert out[4]["n_tokens"] == 1


def test_fingerprint_whitespace_invariant(spark):
    df = spark.createDataFrame(
        [(1, "Hello  world"), (2, "hello world"), (3, " hello\tworld ")],
        "id long, text string")
    fps = [r["fingerprint"]
           for r in textstats.with_text_stats(df).orderBy("id").collect()]
    assert fps[0] == fps[1] == fps[2]


def test_rolling_fingerprints_overlap(spark):
    base = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12"
    df = spark.createDataFrame(
        [(1, base), (2, base + " extra tail words here")],
        "id long, text string")
    rows = (df.select("id", textstats.rolling_fingerprints(
        F.col("text"), 4).alias("fps")).collect())
    fps = {r["id"]: set(r["fps"]) for r in rows}
    # doc 1's windows are a strict subset of doc 2's
    assert fps[1] <= fps[2]
    assert len(fps[2]) > len(fps[1])


# ----------------------------------------------------------------- exact

def test_exact_dedup_keep_first(spark):
    df = spark.createDataFrame(
        [(3, "same text"), (1, "same text"), (2, "other"), (4, None), (5, None)],
        "doc_id long, text string")
    out = {r["doc_id"]: r["is_dup_copy"]
           for r in dedup.exact_dedup(df).collect()}
    assert out == {1: False, 3: True, 2: False, 4: False, 5: False}


def test_exact_dedup_skew_safe_plan(spark):
    """A pathologically duplicated text (30% of all rows share one
    signature) must flow through a map-side-combined aggregate + join —
    NOT a signature-partitioned window, which AQE cannot skew-split."""
    n = 10_000
    df = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 10 < 3, F.lit("viral duplicated document"))
         .otherwise(F.concat(F.lit("uniq "), F.col("id").cast("string")))
         .alias("text"))
    out = dedup.exact_dedup(df)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "partial_min" in plan, plan      # map-side combine before exchange
    assert "Window" not in plan, plan
    agg = out.agg(F.sum(F.col("is_dup_copy").cast("long")).alias("dups"),
                  F.count(F.lit(1)).alias("total")).collect()[0]
    assert agg["total"] == n
    assert agg["dups"] == 3 * n // 10 - 1   # one keeper in the viral group
    keepers = out.filter((F.col("text") == "viral duplicated document")
                         & ~F.col("is_dup_copy")).collect()
    assert [r["doc_id"] for r in keepers] == [0]   # smallest id wins


def test_exact_dedup_check_unique_guard(spark):
    """check_unique=True enforces the unique-id precondition instead of
    silently marking every min-id row a keeper (ADVICE r3)."""
    dup_ids = spark.createDataFrame(
        [(1, "same text"), (1, "same text"), (2, "other")],
        "doc_id long, text string")
    with pytest.raises(ValueError, match="unique non-null"):
        dedup.exact_dedup(dup_ids, check_unique=True)
    ok = spark.createDataFrame(
        [(1, "same text"), (2, "same text")], "doc_id long, text string")
    out = {r["doc_id"]: r["is_dup_copy"]
           for r in dedup.exact_dedup(ok, check_unique=True).collect()}
    assert out == {1: False, 2: True}


def test_python_tokenizer_mirrors_column_tokenizer(spark):
    """The minhash/simhash pandas UDFs tokenize in Python but claim the
    exact semantics of the Column tokenizer (space-only trim, ASCII \\s
    split, leading/trailing empty fields kept). Assert shingle-set
    equality on the control-char edge cases where a wrong mirror
    (e.g. Java String.trim's <=0x20 strip) diverges."""
    docs = [None, "", "   ", "\t", "\tfoo bar baz qux", "foo bar baz\t",
            "a b c d", "nbsp\xa0in token here ok", "x\x0by z w v", "one",
            "a  b c d e", "\x0b lead vt a b c"]
    df = spark.createDataFrame(list(enumerate(docs)), "id long, text string")
    col_sh = {r["id"]: sorted(r["sh"]) for r in df.select(
        "id", dedup.shingles(F.col("text"), 3).alias("sh")).collect()}
    for i, t in enumerate(docs):
        assert col_sh[i] == sorted(dedup._py_shingles(t, 3)), (i, repr(t))


# --------------------------------------------------- minhash / jaccard

def test_minhash_recall_vs_exact_jaccard(spark, docs):
    exact = {(r["id_a"], r["id_b"]): r["intersection"] / r["union_size"]
             for r in dedup.jaccard_pairs(docs, n=3, min_num=1, min_den=10)
             .collect()}
    lsh = {(r["id_a"], r["id_b"]): r["est_jaccard"]
           for r in dedup.minhash_lsh_pairs(docs, num_hashes=64, bands=16,
                                            n=3).collect()}
    high = {p for p, s in exact.items() if s >= 0.7}
    if high:
        found = sum(p in lsh for p in high)
        assert found / len(high) >= 0.9
    # estimated jaccard tracks exact jaccard on shared pairs
    shared = [(exact[p], lsh[p]) for p in lsh if p in exact]
    assert shared, "LSH found no pair with any shingle overlap"
    for ex, est in shared:
        assert abs(ex - est) < 0.35


def test_minhash_identical_texts_always_pair(spark):
    rows = [(i, "alpha beta gamma delta epsilon zeta eta theta " * 3)
            for i in range(4)] + [(10, "totally different words here now")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {(r["id_a"], r["id_b"])
             for r in dedup.minhash_lsh_pairs(df).collect()}
    for a in range(4):
        for b in range(a + 1, 4):
            assert (a, b) in pairs
    assert not any(10 in p for p in pairs)


def test_jaccard_hot_shingle_pairs_every_sharer(spark):
    # 40 docs sharing ONE stop-phrase shingle, otherwise disjoint: the
    # exact join keeps the hot shingle, so it fans out 40*39/2 pairs
    rows = [(i, f"terms of service apply u{i}a u{i}b u{i}c u{i}d")
            for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = dedup.jaccard_pairs(df, n=3, min_num=0, min_den=1).collect()
    assert len(pairs) == 40 * 39 // 2        # every pair is a candidate


# ---------------------------------------------------------------- simhash

def test_simhash_identical_and_near(spark):
    base = ("spark catalyst tungsten shuffle partition broadcast "
            "aggregate window join filter project scan " * 2)
    df = spark.createDataFrame(
        [(1, base), (2, base), (3, base + " tweak"),
         (4, "совершенно other unrelated content entirely different")],
        "doc_id long, text string")
    fps = {r["doc_id"]: r["fp"] for r in df.select(
        "doc_id", dedup.simhash64(F.col("text")).alias("fp")).collect()}
    assert fps[1] == fps[2]
    d13 = bin(fps[1] ^ fps[3]).count("1")
    d14 = bin(fps[1] ^ fps[4]).count("1")
    assert d13 <= 8          # one appended token flips few bits
    assert d14 > d13 + 4     # unrelated text is far
    pairs = {(r["id_a"], r["id_b"]): r["hamming"]
             for r in dedup.simhash_pairs(df, max_hamming=d13).collect()}
    assert pairs[(1, 2)] == 0
    assert pairs[(1, 3)] == d13
    assert not any(4 in p for p in pairs)


def test_simhash_hot_bucket_pairs_once(spark):
    # 30 identical docs collide on every chunk; each pair must come out
    # once (the cross-chunk dropDuplicates), plus the small other group
    base = "quarterly report revenue growth outlook guidance " * 3
    other = "mountains rivers forests valleys deserts islands " * 3
    rows = ([(i, base) for i in range(30)]
            + [(100, other), (101, other)])
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = dedup.simhash_pairs(df, max_hamming=3).collect()
    assert len(pairs) == 30 * 29 // 2 + 1


def test_simhash_null_empty(spark):
    df = spark.createDataFrame([(1, None), (2, "")],
                               "doc_id long, text string")
    rows = df.select(dedup.simhash64(F.col("text")).alias("fp")).collect()
    assert all(r["fp"] is None for r in rows)


# ------------------------------------------------------------- similarity

def test_brute_force_topk_matches_numpy(spark, emb):
    import numpy as np
    pdf = emb.toPandas().sort_values("vec_id")
    mat = np.stack(pdf["embedding"].to_numpy()).astype("float64")
    ids = pdf["vec_id"].to_numpy()
    norms = np.linalg.norm(mat, axis=1)

    queries = (emb.filter(F.col("vec_id") < 3)
               .select(F.col("vec_id").alias("query_id"), "embedding"))
    got = similarity.brute_force_topk(emb, queries, k=5).collect()
    by_q = {}
    for r in sorted(got, key=lambda r: (r["query_id"], r["rank"])):
        by_q.setdefault(r["query_id"], []).append(r["vec_id"])
    for qi in range(3):
        q = mat[ids == qi][0]
        cos = (mat @ q) / (norms * np.linalg.norm(q))
        cos[ids == qi] = -np.inf
        order = sorted(range(len(ids)), key=lambda i: (-cos[i], ids[i]))[:5]
        assert by_q[qi] == [int(ids[i]) for i in order]


def test_lsh_topk_recall(spark, emb):
    queries = (emb.filter(F.col("vec_id") < 10)
               .select(F.col("vec_id").alias("query_id"), "embedding"))
    exact = similarity.brute_force_topk(emb, queries, k=5).collect()
    approx = similarity.lsh_topk(emb, queries, k=5,
                                 n_planes=16, bands=8, dim=64).collect()
    ex = {}
    for r in exact:
        ex.setdefault(r["query_id"], set()).add(r["vec_id"])
    ap = {}
    for r in approx:
        ap.setdefault(r["query_id"], set()).add(r["vec_id"])
    recalls = [len(ex[q] & ap.get(q, set())) / len(ex[q]) for q in ex]
    assert sum(recalls) / len(recalls) >= 0.8   # measured 0.98 at 8 bands


@pytest.fixture(scope="module")
def ivf_index(spark, emb, tmp_path_factory):
    from dq import ivf

    path = str(tmp_path_factory.mktemp("ivf") / "idx")
    ivf.build_ivf_index(emb, path, n_centroids=8)
    return path


@pytest.mark.parametrize("topk", ["brute_force_topk", "lsh_topk", "ivf_topk"])
def test_brute_force_topk_query_collect_guard(spark, emb, topk, request):
    from dq import ivf

    queries = emb.select(F.col("vec_id").alias("query_id"), "embedding")
    with pytest.raises(ValueError, match=f"^{topk}: .*max_queries=10"):
        if topk == "ivf_topk":
            ivf.ivf_topk(spark, request.getfixturevalue("ivf_index"),
                         queries, k=1, max_queries=10)
        else:
            getattr(similarity, topk)(emb, queries, k=1, max_queries=10)


def test_ivf_full_probe_equals_brute_force(spark, tmp_path):
    """Probing every list makes IVF exact: the same ranked rows as brute
    force with bit-identical cos_sim — the scorer's dot products do not
    depend on how the Arrow batches are composed. On the sf0.01
    embeddings an 8-list index regroups the rows enough that a
    BLAS-matmul scorer moves one score by 5.6e-17."""
    from dq import ivf

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    path = str(tmp_path / "idx")
    ivf.build_ivf_index(emb, path, n_centroids=8)
    queries = (emb.filter(F.col("vec_id") < 10)
               .select(F.col("vec_id").alias("query_id"), "embedding"))
    exact = {(r.query_id, r.vec_id, r.rank): r.cos_sim for r in
             similarity.brute_force_topk(emb, queries, k=5).collect()}
    full = {(r.query_id, r.vec_id, r.rank): r.cos_sim for r in
            ivf.ivf_topk(spark, path, queries, k=5, nprobe=8).collect()}
    assert len(exact) == 50
    assert full.keys() == exact.keys()
    assert full == exact


def test_zero_norm_vectors_never_rank(spark):
    """Zero-norm embeddings have no defined cosine: as corpus rows they
    must never appear as neighbors (0/0 NaN sorts ABOVE every double in
    a desc window), as queries they must produce no output rows, and
    the near-dup path must not emit NaN pairs."""
    import numpy as np
    rng = np.random.RandomState(1)
    rows = [(i, [float(x) for x in rng.randn(64)]) for i in range(6)]
    rows.append((99, [0.0] * 64))                     # degenerate corpus row
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = (df.filter(F.col("vec_id").isin(0, 99))
               .select(F.col("vec_id").alias("query_id"), "embedding"))
    for out in (similarity.brute_force_topk(df, queries, k=3),
                similarity.lsh_topk(df, queries, k=3, n_planes=8,
                                    bands=8, dim=64)):
        got = out.collect()
        assert all(r["vec_id"] != 99 for r in got), got
        assert all(r["query_id"] != 99 for r in got), got
        assert all(np.isfinite(r["cos_sim"]) for r in got), got
        assert any(r["query_id"] == 0 for r in got)   # real query still works
    pairs = similarity.embedding_near_dup_pairs(
        df, threshold=-2.0, n_planes=4, bands=4, dim=64).collect()
    assert all(np.isfinite(r["cos_sim"]) for r in pairs), pairs
    assert not any(99 in (r["id_a"], r["id_b"]) for r in pairs)


def test_lsh_plane_sign_margin_supports_sql_oracle(spark):
    """The embedding-LSH oracles embed the plane matrix as SQL literals;
    their exactness rests on every |dot(vec, plane)| clearing a margin
    far above cross-engine summation-order error (~1e-15 relative for
    64-dim O(1) dots). Assert the margin on every testdata corpus for
    the 16-plane set of embedding_lsh_topk and the 32-plane set, whose
    seeded prefix holds embedding_near_dup's auto-sized planes."""
    import numpy as np
    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        pdf = (spark.read.parquet(f"/root/testdata/{sf}/embeddings.parquet")
               .toPandas())
        mat = similarity._stack(pdf["embedding"])
        for n_planes in (16, 32):
            pm = np.asarray(similarity.hyperplanes(64, n_planes, 7))
            margin = np.abs(mat @ pm.T).min()
            assert margin > 1e-9, (sf, n_planes, margin)


def test_ivf_trainer_twins_bit_identical(spark):
    """The IVF oracle's exactness rests on the Spark-collected and
    pyarrow-read trainers producing THE SAME centroids (dq/ivf.py
    determinism contract). Assert bit-identity on two fixtures."""
    import numpy as np

    from dq import ivf
    from dq.queries import IVF_PARAMS

    for sf in ("sf0.001", "sf0.01"):
        path = f"/root/testdata/{sf}/embeddings.parquet"
        c_spark = ivf.train_centroids(spark.read.parquet(path), **IVF_PARAMS)
        c_arrow = ivf.train_centroids_from_parquet(path, **IVF_PARAMS)
        assert np.array_equal(c_spark, c_arrow), sf
        # unit-norm invariant the dot≡cosine assignment relies on
        assert np.allclose(np.linalg.norm(c_spark, axis=1), 1.0)


def test_ivf_topk_recall_and_prunes(spark, emb, tmp_path):
    """IVF results are approximate (neighbors in unprobed lists are the
    recall loss) — gate recall vs brute force, and assert the probe
    predicate actually partition-prunes the index read."""
    from dq import ivf

    path = str(tmp_path / "ivfidx")
    cents = ivf.build_ivf_index(emb, path, n_centroids=8)
    queries = (emb.filter(F.col("vec_id") < 10)
               .select(F.col("vec_id").alias("query_id"), "embedding"))
    exact = similarity.brute_force_topk(emb, queries, k=5).collect()
    # near-random fixture vectors cluster weakly (high-dim uniform is
    # IVF's worst case), so the recall gate probes 6/8 lists — the
    # recall/cost dial working as designed; measured 0.74 at 4/8
    approx = ivf.ivf_topk(spark, path, queries, k=5, nprobe=6).collect()
    ex, ap = {}, {}
    for r in exact:
        ex.setdefault(r["query_id"], set()).add(r["vec_id"])
    for r in approx:
        ap.setdefault(r["query_id"], set()).add(r["vec_id"])
    recalls = [len(ex[q] & ap.get(q, set())) / len(ex[q]) for q in ex]
    assert sum(recalls) / len(recalls) >= 0.8, recalls

    def num_files(df):
        df.collect()
        leaves = df._jdf.queryExecution().executedPlan().collectLeaves()
        total = 0
        for i in range(leaves.size()):
            m = leaves.apply(i).metrics()
            if m.contains("numFiles"):
                total += m.get("numFiles").get().value()
        return total

    qm = similarity._stack(queries.toPandas()["embedding"])
    wanted = sorted({int(v)
                     for v in ivf.probe_lists(qm, cents, 2).ravel()})
    idx = spark.read.parquet(path)
    pruned = num_files(idx.filter(F.col("list_id").isin(wanted)))
    full = num_files(idx)
    assert 0 < pruned < full, (pruned, full)


def test_ivf_argmax_margins_support_sql_oracle(spark):
    """The IVF oracle re-derives list assignment (argmax dot) and probe
    sets (top-nprobe) in DuckDB from centroid literals; exactness needs
    every argmax/boundary decision to clear a margin far above
    cross-engine summation-order error (~1e-15 relative for 64-dim O(1)
    dots) — the IVF analogue of the LSH sign-margin test. Assert the
    top1-vs-top2 assignment gap and the nprobe boundary gap on every
    testdata corpus at the catalog's trained centroids."""
    import numpy as np

    from dq import ivf
    from dq.queries import IVF_NPROBE, IVF_PARAMS

    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        path = f"/root/testdata/{sf}/embeddings.parquet"
        cents = ivf.train_centroids_from_parquet(path, **IVF_PARAMS)
        pdf = spark.read.parquet(path).toPandas()
        mat = similarity._stack(pdf["embedding"])
        dots = np.sort(mat @ cents.T, axis=1)[:, ::-1]
        assign_gap = (dots[:, 0] - dots[:, 1]).min()
        probe_gap = (dots[:, IVF_NPROBE - 1] - dots[:, IVF_NPROBE]).min()
        assert assign_gap > 1e-9, (sf, assign_gap)
        assert probe_gap > 1e-9, (sf, probe_gap)


def test_ivf_zero_norm_vectors_never_rank(spark, tmp_path):
    """Degenerate vectors: as corpus rows they assign to list −1 (never
    probed, never candidates); as queries they produce no rows — same
    convention as the LSH/brute-force paths."""
    import numpy as np

    from dq import ivf

    rng = np.random.RandomState(1)
    rows = [(i, [float(x) for x in rng.randn(64)]) for i in range(12)]
    rows.append((99, [0.0] * 64))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    path = str(tmp_path / "ivfz")
    ivf.build_ivf_index(df, path, n_centroids=4)
    lists = {r["x_id"]: r["list_id"]
             for r in spark.read.parquet(path).collect()}
    assert lists[99] == -1
    queries = (df.filter(F.col("vec_id").isin(0, 99))
               .select(F.col("vec_id").alias("query_id"), "embedding"))
    got = ivf.ivf_topk(spark, path, queries, k=3, nprobe=4).collect()
    assert all(r["vec_id"] != 99 for r in got), got
    assert all(r["query_id"] != 99 for r in got), got
    assert any(r["query_id"] == 0 for r in got)


def test_build_index_once_leaves_no_temp_dir_on_failure(tmp_path):
    """A builder that writes part of an index and then raises must not
    leave its ``.build.<pid>`` temp dir behind (retries would pile them
    up), and a later successful build still lands at the path."""
    import os

    from dq.queries import _build_index_once

    path = str(tmp_path / "idx")

    def failing(tmp):
        os.makedirs(tmp)
        with open(os.path.join(tmp, "part-00000.parquet"), "wb") as f:
            f.write(b"partial")
        raise RuntimeError("build failed")

    for _ in range(2):
        with pytest.raises(RuntimeError, match="build failed"):
            _build_index_once(path, failing)
    assert os.listdir(tmp_path) == []

    def ok(tmp):
        os.makedirs(tmp)
        open(os.path.join(tmp, "_SUCCESS"), "w").close()

    _build_index_once(path, ok)
    assert os.listdir(tmp_path) == ["idx"]


def test_embedding_near_dup_pairs_planted(spark):
    import numpy as np
    rng = np.random.RandomState(0)
    base = rng.randn(8, 64).astype("float64")
    rows = [(i, [float(x) for x in base[i]]) for i in range(8)]
    # plant a near-duplicate of vector 0
    rows.append((100, [float(x) for x in base[0] + 0.01 * rng.randn(64)]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    pairs = similarity.embedding_near_dup_pairs(df, threshold=0.95,
                                                n_planes=16, bands=8,
                                                dim=64).collect()
    assert {(r["id_a"], r["id_b"]) for r in pairs} == {(0, 100)}


def test_near_dup_banded_exchange_excludes_vectors(spark):
    """The bands× exploded self-join exchange must carry ONLY
    (id, band-key) — never the embedding (round-4 verdict finding #2:
    at 10⁹ × 768-dim the vector-through-explode shape is bands × ~3 KB
    per vector of exchange write amplification). Formatted explain
    lists every Exchange's Input columns; assert no array-typed /
    vector column rides a band-key exchange."""
    df = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    key = "spark.sql.autoBroadcastJoinThreshold"
    saved = spark.conf.get(key)
    spark.conf.set(key, "-1")      # force a real shuffle for the self-join
    try:
        out = similarity.embedding_near_dup_pairs(df, threshold=0.4,
                                                  n_planes=8, bands=4,
                                                  dim=64)
        plan = spark._jvm.PythonSQLUtils.explainString(
            out._jdf.queryExecution(), "formatted")
    finally:
        spark.conf.set(key, saved)
    blocks = [b for b in plan.split("\n\n") if b.lstrip().startswith("(")]
    band_exchanges = 0
    for block in blocks:
        lines = block.splitlines()
        if "Exchange" not in lines[0]:     # Exchange / BroadcastExchange
            continue
        inp = next((ln for ln in lines if ln.startswith("Input")), "")
        if "_bk#" not in inp:
            continue
        band_exchanges += 1
        assert "embedding" not in inp and "_vv" not in inp \
            and "x_v" not in inp, block
    assert band_exchanges >= 1, plan    # the banded join does exchange keys

def test_connected_components_shapes(spark):
    """Chain, clique, and isolated pair each collapse to min-id label."""
    pairs = spark.createDataFrame(
        [("b", "a"), ("b", "c"), ("c", "d"),          # chain a-b-c-d
         ("x", "y"), ("y", "z"), ("x", "z"),          # clique x-y-z
         ("p", "q")],                                  # pair
        "id_a string, id_b string")
    got = {(r.doc_id, r.cluster_id)
           for r in dedup.connected_components(pairs).collect()}
    assert got == {("a", "a"), ("b", "a"), ("c", "a"), ("d", "a"),
                   ("x", "x"), ("y", "x"), ("z", "x"),
                   ("p", "p"), ("q", "p")}


def test_connected_components_long_chain_converges(spark):
    """40-node path graph: hub shortcuts collapse it well inside
    max_iter (plain min-propagation would need 40 sweeps)."""
    ids = [f"n{i:03d}" for i in range(40)]
    chain = spark.createDataFrame(list(zip(ids, ids[1:])),
                                  "id_a string, id_b string")
    out = dedup.connected_components(chain, max_iter=12).collect()
    assert len(out) == 40
    assert all(r.cluster_id == "n000" for r in out)


def test_connected_components_empty_and_nonconvergence(spark):
    empty = spark.createDataFrame([], "id_a string, id_b string")
    assert dedup.connected_components(empty).count() == 0
    chain = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"), ("e", "f")],
        "id_a string, id_b string")
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup.connected_components(chain, max_iter=1)


def test_connected_components_vs_union_find(spark, docs):
    """Cross-check against a driver-side union-find on the REAL pair
    graph (exact Jaccard pairs over the sf0.001 corpus)."""
    pairs = dedup.jaccard_pairs(docs, "doc_id", "text",
                                n=3, min_num=1, min_den=3)
    edges = [(r.id_a, r.id_b) for r in pairs.collect()]
    assert edges, "fixture corpus must contain near-dup pairs"

    parent: dict[str, str] = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent[find(a)] = find(b)
    want = {}
    comp: dict[str, list[str]] = {}
    for v in parent:
        comp.setdefault(find(v), []).append(v)
    for members in comp.values():
        rep = min(members)
        for v in members:
            want[v] = rep

    got = {r.doc_id: r.cluster_id
           for r in dedup.connected_components(pairs).collect()}
    assert got == want


def test_drop_near_duplicates(spark):
    docs = spark.createDataFrame([(i,) for i in "abcdxyzpqmn"],
                                 "doc_id string")
    pairs = spark.createDataFrame(
        [("b", "a"), ("b", "c"), ("c", "d"),
         ("x", "y"), ("y", "z"), ("x", "z"), ("p", "q")],
        "id_a string, id_b string")
    kept = sorted(r.doc_id
                  for r in dedup.drop_near_duplicates(docs, pairs).collect())
    # cluster reps a/p/x survive; singletons m/n untouched
    assert kept == ["a", "m", "n", "p", "x"]


def test_duckdb_oracle_tokenizer_mirrors_spark_on_vt(spark):
    """The oracle SQL splits on the explicit class [ \\t\\n\\x0b\\f\\r]+
    (RE2's \\s has no \\x0b, unlike Java/Python ASCII \\s) — assert the
    DuckDB split agrees with the Column tokenizer on every control-char
    edge case, including vertical tab, which the driver corpus never
    contains."""
    import duckdb
    docs = ["\tfoo bar", "x\x0by z", "\x0b lead vt", "a\x0c b\r\nc",
            "plain text here", "nbsp\xa0stays one-token"]
    df = spark.createDataFrame(list(enumerate(docs)), "id long, text string")
    spark_toks = {r["id"]: r["t"] for r in df.select(
        "id", textstats.tokens(F.col("text")).alias("t")).collect()}
    con = duckdb.connect()
    for i, t in enumerate(docs):
        got = con.execute(
            r"SELECT CASE WHEN $1 IS NOT NULL AND trim($1, ' ') <> '' THEN "
            r"regexp_split_to_array(trim($1, ' '), '[ \t\n\x0b\f\r]+') "
            r"ELSE [] END", [t]).fetchone()[0]
        assert got == spark_toks[i], (i, repr(t), got, spark_toks[i])


def test_tokenizer_three_way_fuzz(spark):
    """Seeded fuzz over nasty unicode: the Column tokenizer, the Python
    mirror, and the DuckDB oracle split must agree token-for-token on
    every input (one Spark job for all cases)."""
    import random

    import duckdb

    rng = random.Random(0xDED)
    pool = (" \t\n\x0b\f\r\xa0  　" 
            "abcXYZ09ſKı💚日本—.,")
    docs = ["".join(rng.choice(pool) for _ in range(rng.randint(0, 30)))
            for _ in range(400)]
    df = spark.createDataFrame(list(enumerate(docs)), "id long, text string")
    spark_toks = {r["id"]: r["t"] for r in df.select(
        "id", textstats.tokens(F.col("text")).alias("t")).collect()}
    con = duckdb.connect()
    for i, t in enumerate(docs):
        py = dedup._py_tokens(t)
        duck = con.execute(
            r"SELECT CASE WHEN $1 IS NOT NULL AND trim($1, ' ') <> '' THEN "
            r"regexp_split_to_array(trim($1, ' '), '[ \t\n\x0b\f\r]+') "
            r"ELSE [] END", [t]).fetchone()[0]
        assert spark_toks[i] == py == duck, (i, repr(t))


def test_near_dup_threshold_margin_supports_sql_oracle(spark):
    """The embedding_near_dup oracle compares float cosines against the
    0.4 threshold and rounds to 6 dp in BOTH engines; exactness needs
    every CANDIDATE pair's cosine to clear the threshold and the
    nearest rounding boundary by far more than summation-order ulp
    (~1e-13). Assert both margins on the driver-gate fixture (sf0.01),
    at the SAME auto-sized band width the catalog query picks there."""
    from dq.queries import NEAR_DUP_THRESHOLD

    e = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    n_planes, bands = similarity.near_dup_band_params(e.count())
    cand = similarity.embedding_near_dup_pairs(
        e, threshold=-2.0, n_planes=n_planes, bands=bands)  # ALL candidates
    cos = [r["cos_sim"] for r in cand.collect()]
    assert cos, "banding produced no candidate pairs"
    th_margin = min(abs(c - NEAR_DUP_THRESHOLD) for c in cos)
    assert th_margin > 1e-6, th_margin
    # distance from the nearest half-ulp-of-6dp rounding boundary
    import math
    rb_margin = min(abs(c * 1e6 - math.floor(c * 1e6) - 0.5) for c in cos)
    assert rb_margin > 1e-6, rb_margin
    # the candidate SET itself relies on sign-bit agreement: every
    # |vec·plane| projection must clear summation-order ulp, else one
    # engine flips a band key the other doesn't
    import numpy as np
    pmat = np.asarray(similarity.hyperplanes(64, n_planes, 7))
    vecs = np.asarray([r["embedding"] for r in e.collect()], dtype=np.float64)
    sign_margin = np.abs(vecs @ pmat.T).min()
    assert sign_margin > 1e-9, sign_margin


# -------------------------------------------------- decontamination

def test_contamination_planted(spark):
    """A corpus doc sharing a 3-gram with the benchmark is flagged; an
    unrelated doc is not; blank text reports zero hits."""
    from dq.contamination import flag_contaminated
    corpus = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "completely different words here entirely unrelated text"),
         (3, None)],
        "doc_id long, text string")
    bench = spark.createDataFrame(
        [(100, "we observed the quick brown fox yesterday evening")],
        "doc_id long, text string")
    out = {r["doc_id"]: (r["hits"], r["contaminated"])
           for r in flag_contaminated(corpus, bench, n=3).collect()}
    # shared 3-grams: "the quick brown", "quick brown fox"
    assert out[1] == (2, True)
    assert out[2] == (0, False)
    assert out[3] == (0, False)
    # min_hits threshold: requiring 3 shared grams unflags doc 1
    out3 = {r["doc_id"]: r["contaminated"]
            for r in flag_contaminated(corpus, bench, n=3,
                                       min_hits=3).collect()}
    assert out3[1] is False


def test_contamination_broadcast_survives_auto_broadcast_off(spark):
    """The benchmark gram set is broadcast by an explicit hint, not by
    the optimizer's size estimate: with both auto-broadcast thresholds
    disabled the executed plan still contains a BroadcastHashJoin."""
    from dq.contamination import flag_contaminated
    d = spark.read.parquet(f"{SF}/documents.parquet")
    bench = d.filter("doc_id % 17 = 0")
    corpus = d.filter("doc_id % 17 != 0")
    keys = ("spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.autoBroadcastJoinThreshold")
    # adaptive.autoBroadcastJoinThreshold defaults to unset (inherits
    # the static one) — restore via unset, not set(None)
    saved = {k: spark.conf.get(k, None) for k in keys}
    for k in keys:
        spark.conf.set(k, "-1")
    try:
        hinted = flag_contaminated(corpus, bench, n=3)
        plan = hinted._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan, plan   # the hint survives -1
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)

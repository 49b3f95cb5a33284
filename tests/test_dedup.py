"""Dedup + similarity operator tests over planted corpora."""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from validatelite_spark.operators import dedup, similarity


@pytest.fixture(scope="module")
def docs(spark):
    base = ("the quick brown fox jumps over the lazy dog and runs far "
            "away into the green forest near the quiet river bank today")
    near = ("the quick brown fox jumps over the lazy dog and runs far "
            "away into the green forest near the quiet river bank tonight")
    far = ("completely different words about cooking pasta with tomato "
           "sauce garlic basil and olive oil in a warm kitchen at home")
    rows = [
        (0, base), (1, base),            # exact dup pair
        (2, near),                        # near-dup of 0/1 (1 token differs)
        (3, far), (4, far + " extra"),    # near-dup pair, far from base
        (5, "tiny"),                      # too short for shingles
        (6, None),                        # NULL text
        (7, "unrelated singleton document with some words and letters and "
            "nothing else in common with anything here at all thanks"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string").cache()


class TestDedupGroups:
    def test_connected_components_min_label(self, spark):
        # components: {1,2,3,4} (a chain), {7,9}, singletons never appear
        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 4), (9, 7)], "id1 long, id2 long")
        got = {r["doc_id"]: r["group_id"]
               for r in dedup.dedup_groups(pairs).collect()}
        assert got == {1: 1, 2: 1, 3: 1, 4: 1, 7: 7, 9: 7}

    def test_partition_invariance(self, spark):
        import itertools
        edges = [(a, b) for a, b in itertools.combinations(range(12), 2)
                 if (a % 3) == (b % 3)]  # 3 cliques of 4
        pairs = spark.createDataFrame(edges, "id1 long, id2 long")
        one = sorted(map(tuple, dedup.dedup_groups(pairs).collect()))
        two = sorted(map(tuple,
                         dedup.dedup_groups(pairs.repartition(7)).collect()))
        assert one == two
        assert {g for _, g in one} == {0, 1, 2}

    def test_reliable_checkpoint_dir(self, spark, tmp_path):
        # With spark.checkpoint.dir set on the session (the cluster-safe
        # path), dedup_groups and pagerank checkpoint there and give the
        # local-path result. A SparkContext's checkpoint dir cannot be
        # unset, so that session runs in its own process.
        from validatelite_spark.operators.linkgraph import pagerank
        pairs = [(1, 2), (2, 3), (3, 4), (9, 7)]
        edges = [("a", "b"), ("b", "c"), ("c", "a"), ("d", "c")]
        script = f"""
import json, os
from validatelite_spark.session import get_spark
from validatelite_spark.operators.dedup import dedup_groups
from validatelite_spark.operators.linkgraph import pagerank
spark = get_spark("ckpt", cpus=2, extra_conf={{
    "spark.checkpoint.dir": {str(tmp_path)!r}}})
def n_rdds():
    return sum(d.startswith("rdd-") for _, ds, _ in os.walk({str(tmp_path)!r})
               for d in ds)
g = dedup_groups(spark.createDataFrame({pairs!r}, "id1 long, id2 long"))
out = {{"groups": sorted(map(list, g.collect())), "after_groups": n_rdds()}}
r = pagerank(spark.createDataFrame({edges!r}, "src string, dst string"))
out.update(ranks=sorted(map(list, r.collect())), after_ranks=n_rdds())
print(json.dumps(out))
"""
        root = Path(__file__).resolve().parents[1]
        env = {**os.environ, "PYTHONPATH": str(root),
               "SPARK_DRIVER_MEM": "1g", "VLITE_WARM_PYTHON_WORKERS": "0"}
        r = subprocess.run([sys.executable, "-c", script], cwd=root,
                           env=env, capture_output=True, text=True,
                           timeout=300)
        assert r.returncode == 0, r.stderr[-2000:]
        got = json.loads(r.stdout.strip().splitlines()[-1])
        assert 0 < got["after_groups"] < got["after_ranks"]
        local_groups = dedup.dedup_groups(
            spark.createDataFrame(pairs, "id1 long, id2 long"))
        assert got["groups"] == sorted(map(list, local_groups.collect()))
        local_ranks = pagerank(
            spark.createDataFrame(edges, "src string, dst string"))
        assert got["ranks"] == sorted(map(list, local_ranks.collect()))

    def test_keep_representatives_no_broadcast_over_threshold(
            self, docs, monkeypatch):
        # Round-3 verdict #2: above the size gate the groups side must
        # NOT broadcast (billions of group rows at web scale).
        pairs = dedup.minhash_lsh_pairs(docs, threshold=0.7)
        groups = dedup.dedup_groups(pairs)
        kept_b = dedup.keep_representatives(docs, groups)
        monkeypatch.setattr(dedup, "KEEP_BROADCAST_THRESHOLD", 0)
        kept_s = dedup.keep_representatives(docs, groups)
        plan_b = kept_b._jdf.queryExecution().executedPlan().toString()
        plan_s = kept_s._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastExchange" in plan_b
        assert "BroadcastExchange" not in plan_s
        a = sorted(r["doc_id"] for r in kept_b.select("doc_id").collect())
        b = sorted(r["doc_id"] for r in kept_s.select("doc_id").collect())
        assert a == b

    def test_keep_representatives(self, docs):
        pairs = dedup.ngram_jaccard_pairs(docs, threshold=0.5)
        groups = dedup.dedup_groups(pairs)
        kept = dedup.keep_representatives(docs, groups)
        ids = sorted(r["doc_id"] for r in kept.select("doc_id").collect())
        # {0,1,2} near-dups → keep 0; {3,4} → keep 3; others untouched
        assert ids == [0, 3, 5, 6, 7]

    def test_keep_best_by_score(self, spark):
        groups = spark.createDataFrame(
            [(1, 1), (2, 1), (3, 1), (7, 7), (9, 7)],
            "doc_id long, group_id long")
        df = spark.createDataFrame(
            [(1, 10.0), (2, 99.0), (3, 99.0),   # tie at 99 → min key 2
             (7, None), (9, 5.0),               # NULL loses to scored
             (42, 0.0)],                        # no group → kept
            "doc_id long, score double")
        kept = sorted(r.doc_id for r in dedup.keep_best_representatives(
            df, groups, "score").collect())
        assert kept == [2, 9, 42]

    def test_keep_best_all_null_scores_falls_back_to_min_key(self, spark):
        groups = spark.createDataFrame(
            [(5, 4), (4, 4)], "doc_id long, group_id long")
        df = spark.createDataFrame(
            [(4, None), (5, None)], "doc_id long, score double")
        kept = sorted(r.doc_id for r in dedup.keep_best_representatives(
            df, groups, "score").collect())
        assert kept == [4]

    def test_keep_best_no_broadcast_over_threshold(self, spark,
                                                   monkeypatch):
        groups = spark.createDataFrame(
            [(1, 1), (2, 1)], "doc_id long, group_id long")
        df = spark.createDataFrame(
            [(1, 1.0), (2, 2.0), (3, 3.0)], "doc_id long, score double")
        kept_b = dedup.keep_best_representatives(df, groups, "score")
        monkeypatch.setattr(dedup, "KEEP_BROADCAST_THRESHOLD", 0)
        kept_s = dedup.keep_best_representatives(df, groups, "score")
        plan_b = kept_b._jdf.queryExecution().executedPlan().toString()
        plan_s = kept_s._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastExchange" in plan_b
        assert "BroadcastExchange" not in plan_s
        assert (sorted(r.doc_id for r in kept_b.collect())
                == sorted(r.doc_id for r in kept_s.collect()) == [2, 3])


class TestExactDedup:
    def test_keeps_min_key_per_fingerprint(self, docs):
        kept = dedup.exact_dedup(docs)
        ids = sorted(r["doc_id"] for r in kept.select("doc_id").collect())
        assert ids == [0, 2, 3, 4, 5, 6, 7]  # doc 1 dropped (dup of 0)

    def test_dup_groups(self, docs):
        groups = dedup.exact_dup_groups(docs).collect()
        assert len(groups) == 1
        assert groups[0]["n_docs"] == 2 and groups[0]["keep_id"] == 0

    def test_viral_page_plan_has_no_window(self, spark):
        # Round-3 verdict #1 (exact_dedup leg): 10^6 copies of one viral
        # page must collapse in a map-side partial aggregate, not pile
        # into one Window.partitionBy(fingerprint) task.
        rows = [(i, "the viral page" if i else f"unique {i}")
                for i in range(300)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = dedup.exact_dedup(df)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Window" not in plan
        assert "partial_min" in plan
        ids = sorted(r["doc_id"] for r in out.select("doc_id").collect())
        assert ids == [0, 1]  # doc 0 ('unique 0'), doc 1 wins the viral set

    def test_null_texts_all_kept(self, spark):
        df = spark.createDataFrame(
            [(1, None), (2, None), (3, "x"), (4, "x")],
            "doc_id long, text string")
        ids = sorted(r["doc_id"]
                     for r in dedup.exact_dedup(df).collect())
        assert ids == [1, 2, 3]


class TestNgramJaccard:
    def test_exhaustive_pairs(self, docs):
        pairs = {(r["id1"], r["id2"]): r["jaccard"]
                 for r in dedup.ngram_jaccard_pairs(docs, threshold=0.5).collect()}
        assert (0, 1) in pairs and pairs[(0, 1)] == 1.0
        assert (0, 2) in pairs and 0.5 <= pairs[(0, 2)] < 1.0
        assert (1, 2) in pairs
        assert (3, 4) in pairs
        assert not any(i in (5, 6, 7) or j in (5, 6, 7) for i, j in pairs)

    def test_df_cap_drops_hot_shingles(self, spark):
        # one shingle shared by everyone: df_cap excludes it
        rows = [(i, f"common shingle here plus word{4*i} word{4*i+1} "
                    f"word{4*i+2} word{4*i+3} tail{i}") for i in range(10)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        with_cap = dedup.ngram_jaccard_pairs(df, threshold=0.01, df_cap=5)
        assert with_cap.count() == 0  # only hot shingles connected them

    def test_default_df_cap_bounds_hot_shingle_expansion(self, spark):
        """A stop-shingle present in > DEFAULT_DF_CAP docs must be dropped
        by DEFAULT (no df_cap argument): without the cap one
        collect_list array would hold every containing doc id and one
        task would expand O(df²) ≈ 50M pairs; with it the per-shingle
        doc lists stay bounded by construction."""
        n = dedup.DEFAULT_DF_CAP + 50
        docs = spark.range(n).selectExpr(
            "id AS doc_id",
            "concat('hot stop shingle u', id, ' v', id, ' w', id) AS text")
        pairs = dedup.ngram_jaccard_pairs(docs, threshold=0.01)
        # every doc's non-hot shingles are unique → the hot shingle was
        # the only connector, and it was dropped
        assert pairs.count() == 0
        # exactness preserved below the cap: same corpus, higher cap
        some = dedup.ngram_jaccard_pairs(
            docs.limit(20), threshold=0.01, df_cap=None)
        assert some.count() > 0  # the hot shingle connects them uncapped

    def test_pair_expansion_streams_no_single_row_blowup(self, spark):
        """An at-cap shingle must expand pairs through CHAINED generators
        (posexplode suffixes), never a flatten() that materializes the
        whole df²/2 struct array inside one row (VERDICT r2 #3: at
        df_cap=10k that single row was ~50M structs → executor OOM).
        Pins the plan shape AND exactness on a planted hot shingle."""
        # 120 docs all share one shingle; each also has unique shingles
        rows = [(i, f"shared hot trigram x{i} y{i} z{i}")
                for i in range(120)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        pairs = dedup.ngram_jaccard_pairs(df, threshold=0.01, df_cap=None)
        plan = pairs._jdf.queryExecution().executedPlan().toString()
        assert "flatten(" not in plan, "single-row nested-array expansion"
        assert plan.count("Generate") >= 2, "expected chained explodes"
        # exactness: every doc has 4 trigrams ('shared hot trigram',
        # 'hot trigram x{i}', ...), exactly one shared → jaccard 1/7
        got = pairs.collect()
        assert len(got) == 120 * 119 // 2
        assert all(abs(r["jaccard"] - round(1 / 7 + 1e-9, 6)) < 1e-9
                   for r in got)


class TestIncrementalMinhash:
    def test_new_batch_vs_persisted_index(self, docs, tmp_path):
        """Dedup a new batch against a written corpus index: pairs must
        equal the cross-corpus slice of the exhaustive jaccard result,
        with (id1=old, id2=new) orientation."""
        path = str(tmp_path / "mh_index")
        old = docs.filter("doc_id <= 2")     # 0,1 exact dups; 2 near
        new = docs.filter("doc_id > 2")      # 3,4 a separate near pair
        dedup.minhash_index_write(old, path)
        got = {(r["id1"], r["id2"]): r["jaccard"]
               for r in dedup.incremental_minhash_pairs(
                   new, path, threshold=0.5).collect()}
        # cross pairs only: no (0,1) [both old], no (3,4) [both new]
        assert got == {}  # 3/4 are unrelated to 0/1/2
        # now flip the split so cross near-dups exist
        path2 = str(tmp_path / "mh_index2")
        dedup.minhash_index_write(docs.filter("doc_id IN (0, 3)"), path2)
        got2 = {(r["id1"], r["id2"]): r["jaccard"]
                for r in dedup.incremental_minhash_pairs(
                    docs.filter("doc_id IN (1, 2, 4)"), path2,
                    threshold=0.5).collect()}
        exhaustive = {(r["id1"], r["id2"]): r["jaccard"]
                      for r in dedup.ngram_jaccard_pairs(
                          docs, threshold=0.5).collect()}
        want = {(a, b): j for (a, b), j in exhaustive.items()
                if a in (0, 3) and b in (1, 2, 4)}
        assert got2 == want and (0, 1) in got2 and (3, 4) in got2

    def test_append_equals_index_built_whole(self, docs, tmp_path):
        """write(A) + append(B) must probe identically to write(A∪B) —
        the maintenance path a rolling crawl pipeline uses."""
        p1 = str(tmp_path / "mh_app")
        dedup.minhash_index_write(docs.filter("doc_id <= 1"), p1)
        dedup.minhash_index_append(docs.filter("doc_id IN (2, 3)"), p1)
        got = sorted(map(tuple, dedup.incremental_minhash_pairs(
            docs.filter("doc_id = 4"), p1, threshold=0.5).collect()))
        p2 = str(tmp_path / "mh_whole")
        dedup.minhash_index_write(docs.filter("doc_id <= 3"), p2)
        want = sorted(map(tuple, dedup.incremental_minhash_pairs(
            docs.filter("doc_id = 4"), p2, threshold=0.5).collect()))
        assert got == want
        # and the appended near-dup is actually found: 4 pairs with 3
        assert any(a == 3 for a, _, _ in got)

    def test_recrawled_doc_size_conflict_resolved(self, docs, tmp_path):
        # ADVICE r3: a doc_id present in BOTH the index and the new
        # batch with changed text must contribute exactly one size row
        # (the new batch's), never fan the jaccard join out.
        path = str(tmp_path / "mh_recrawl")
        dedup.minhash_index_write(docs.filter("doc_id <= 3"), path)
        spark = docs.sparkSession
        # re-crawl doc 3 with different (longer) text + probe doc 9,
        # an exact copy of indexed doc 0 → expect the (0, 9) pair once
        d0 = docs.filter("doc_id = 0").collect()[0]["text"]
        batch = spark.createDataFrame(
            [(3, "completely different re-crawled body of text now"),
             (9, d0)], "doc_id long, text string")
        got = dedup.incremental_minhash_pairs(batch, path,
                                              threshold=0.5).collect()
        by_pair = {}
        for r in got:
            by_pair.setdefault((r["id1"], r["id2"]), []).append(
                r["jaccard"])
        # no duplicate rows for any pair (the fan-out the fix removes)
        assert all(len(v) == 1 for v in by_pair.values())
        assert (0, 9) in by_pair and by_pair[(0, 9)] == [1.0]

    def test_params_sidecar_respected(self, docs, tmp_path):
        path = str(tmp_path / "mh_n4")
        dedup.minhash_index_write(docs.filter("doc_id <= 2"), path, n=4,
                                  bands=16, rows_per_band=2)
        import json
        with open(f"{path}/_minhash_params.json") as fh:
            assert json.load(fh) == {"n": 4, "bands": 16,
                                     "rows_per_band": 2}
        # probe runs with the stored params (n=4 shingles): doc 1 is an
        # exact dup of indexed 0 and a near-dup of indexed 2; (1,1)
        # self-pair excluded
        got = dedup.incremental_minhash_pairs(
            docs.filter("doc_id = 1"), path, threshold=0.5).collect()
        assert {(r["id1"], r["id2"]) for r in got} == {(0, 1), (2, 1)}


class TestIncrementalExact:
    def test_probe_drops_indexed_texts(self, docs, tmp_path):
        path = str(tmp_path / "fpidx")
        dedup.fingerprint_index_write(docs.filter("doc_id <= 3"), path)
        spark = docs.sparkSession
        d0 = docs.filter("doc_id = 0").collect()[0]["text"]
        batch = spark.createDataFrame(
            [(10, d0),            # exact copy of indexed doc 0 → drop
             (11, "brand new text never seen before"),
             (12, "brand new text never seen before"),  # in-batch dup
             (13, None)],
            "doc_id long, text string")
        got = sorted(r["doc_id"] for r in dedup.incremental_exact_dedup(
            batch, path).collect())
        assert got == [11, 13]  # 10 vs index; 12 vs 11; NULL kept

    def test_append_equals_rebuild(self, docs, tmp_path):
        p1 = str(tmp_path / "fp_app")
        dedup.fingerprint_index_write(docs.filter("doc_id <= 1"), p1)
        dedup.fingerprint_index_append(docs.filter("doc_id IN (2, 3)"),
                                       p1)
        p2 = str(tmp_path / "fp_whole")
        dedup.fingerprint_index_write(docs.filter("doc_id <= 3"), p2)
        spark = docs.sparkSession
        d3 = docs.filter("doc_id = 3").collect()[0]["text"]
        batch = spark.createDataFrame([(20, d3), (21, "fresh")],
                                      "doc_id long, text string")
        a = sorted(r["doc_id"] for r in dedup.incremental_exact_dedup(
            batch, p1).collect())
        b = sorted(r["doc_id"] for r in dedup.incremental_exact_dedup(
            batch, p2).collect())
        assert a == b == [21]


class TestMinHashLSH:
    def test_matches_exhaustive(self, docs):
        exact = {(r["id1"], r["id2"]): r["jaccard"]
                 for r in dedup.ngram_jaccard_pairs(docs, threshold=0.5).collect()}
        lsh = {(r["id1"], r["id2"]): r["jaccard"]
               for r in dedup.minhash_lsh_pairs(docs, threshold=0.5).collect()}
        assert lsh == exact  # verified candidates == exhaustive result

    def test_verify_stage_has_no_fat_array_join(self, docs):
        """The exact-Jaccard verification must re-derive common counts
        from the exploded (k, shingle) table — shuffling full shingle
        ARRAYS per candidate pair (array_intersect) is the wrong shape at
        scale."""
        plan = (dedup.minhash_lsh_pairs(docs, threshold=0.5)
                ._jdf.queryExecution().optimizedPlan().toString())
        assert "array_intersect" not in plan


class TestSimHash:
    def test_exact_dups_distance_zero(self, docs):
        pairs = {(r["id1"], r["id2"]): r["distance"]
                 for r in dedup.simhash_pairs(docs, max_distance=3).collect()}
        assert pairs.get((0, 1)) == 0
        # the one-token-diff near-dup sits at distance 4 on this corpus —
        # outside radius 3, inside a widened radius
        wide = {(r["id1"], r["id2"]): r["distance"]
                for r in dedup.simhash_pairs(docs, max_distance=6).collect()}
        assert wide.get((0, 2)) == 4 and wide.get((1, 2)) == 4
        assert (0, 3) not in wide  # unrelated docs stay far apart

    def test_simhash_deterministic(self, docs):
        a = {r["k"]: r["sh"] for r in dedup.simhash_table(docs).collect()}
        b = {r["k"]: r["sh"]
             for r in dedup.simhash_table(docs.repartition(7)).collect()}
        assert a == b and len(a) == 7  # NULL doc excluded

    def test_md5_hash_variant(self, spark, docs):
        """The md5-derived token hash is the engine-portable variant the
        DuckDB oracle replays bit-for-bit; pin one value against the
        independently-computed Python md5 so neither engine drifts."""
        import hashlib

        from pyspark.sql import functions as F
        h = int(hashlib.md5(b"spark").hexdigest()[:16], 16)
        expect = h - (1 << 64) if h >= 1 << 63 else h
        hi = F.conv(F.substring(F.md5("t"), 1, 8), 16, 10).cast("long")
        lo = F.conv(F.substring(F.md5("t"), 9, 8), 16, 10).cast("long")
        (got,) = (spark.createDataFrame([("spark",)], ["t"])
                  .select(F.shiftleft(hi, 32).bitwiseOR(lo).alias("h"))
                  .collect())
        assert got.h == expect
        # exact duplicates still collapse to distance 0 under md5 votes
        pairs = {(r["id1"], r["id2"]): r["distance"]
                 for r in dedup.simhash_pairs(
                     docs, max_distance=3, hash_fn="md5").collect()}
        assert pairs.get((0, 1)) == 0

    def test_block_combination_keys_same_pairs(self, docs):
        # Manku block-combination banding (blocks=6 → 20 bands of
        # ~32-bit keys) must return EXACTLY the single-block result —
        # pigeonhole recall is 1 by construction on both.
        base = sorted(map(tuple,
                          dedup.simhash_pairs(docs, max_distance=3)
                          .collect()))
        wide = sorted(map(tuple,
                          dedup.simhash_pairs(docs, max_distance=3,
                                              blocks=6).collect()))
        assert base == wide
        w6 = sorted(map(tuple,
                        dedup.simhash_pairs(docs, max_distance=6,
                                            blocks=8).collect()))
        b6 = sorted(map(tuple,
                        dedup.simhash_pairs(docs, max_distance=6)
                        .collect()))
        assert w6 == b6

    def test_hot_chunk_candidates_bounded(self, spark):
        # Round-3 verdict #3: a degenerate corpus where EVERY doc shares
        # one 16-bit chunk (but differs widely elsewhere) makes the
        # single-block banding admit C(N,2) candidates; 3-block
        # combination keys admit none, because any key includes >=2
        # differing blocks. Pairs are counted pre-verify (verify=False).
        n = 100
        rows = []
        for i in range(1, n + 1):
            h = ((i * 0x9E3779B97F4A7C15) & ((1 << 64) - 1)) & ~0xFFFF
            h |= 0x1234  # shared low 16-bit chunk
            rows.append((i, h - (1 << 64) if h >= 1 << 63 else h))
        sh = spark.createDataFrame(rows, "k long, sh long")
        hot = dedup.simhash_candidates(sh, max_distance=3,
                                       verify=False).count()
        capped = dedup.simhash_candidates(sh, max_distance=3, blocks=6,
                                          verify=False).count()
        assert hot >= n * (n - 1) // 2  # the blow-up the fix targets
        assert capped < n                # bounded: no shared 32-bit key
        # and the verified result agrees (both empty — no true pairs)
        assert dedup.simhash_candidates(sh, max_distance=3).count() == \
            dedup.simhash_candidates(sh, max_distance=3, blocks=6).count() == 0

    def test_bad_block_params_raise(self, docs):
        import pytest as _pt
        sh = dedup.simhash_table(docs)
        with _pt.raises(ValueError):
            dedup.simhash_candidates(sh, max_distance=3, blocks=3)
        with _pt.raises(ValueError):
            dedup.simhash_candidates(sh, max_distance=3, blocks=17)


@pytest.fixture(scope="module")
def vectors(spark):
    import numpy as np

    rng = np.random.default_rng(7)
    base = rng.standard_normal((20, 16))
    rows = []
    for i, v in enumerate(base):
        rows.append((i, [float(x) for x in v / np.linalg.norm(v)]))
    # 20..23: tiny perturbations of vector 0 → near-dups / top neighbors
    for j in range(4):
        v = base[0] + 0.01 * (j + 1) * rng.standard_normal(16)
        rows.append((20 + j, [float(x) for x in v / np.linalg.norm(v)]))
    # 24: exact copy of vector 0 (always shares every LSH sign bit)
    rows.append((24, rows[0][1]))
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>").cache()


class TestSimilarity:
    def test_brute_force_topk(self, vectors):
        q = vectors.filter("vec_id = 0")
        top = similarity.brute_force_topk(vectors, q, k=5).collect()
        assert [r["query_id"] for r in top] == [0] * 5
        neighbors = [r["neighbor_id"] for r in top]
        assert set(neighbors) == {20, 21, 22, 23, 24}  # copy + perturbed
        assert neighbors[0] == 24  # the exact copy ranks first (score 1.0)
        assert [r["rank"] for r in top] == [1, 2, 3, 4, 5]
        assert all(top[i]["score"] >= top[i + 1]["score"] for i in range(4))

    def test_lsh_topk_recall(self, vectors):
        q = vectors.filter("vec_id = 0")
        exact = {r["neighbor_id"]
                 for r in similarity.brute_force_topk(vectors, q, k=5).collect()}
        approx = {r["neighbor_id"]
                  for r in similarity.lsh_topk(vectors, q, k=5,
                                               n_planes=4, dim=16).collect()}
        # the exact copy shares every sign bit in every table → found
        assert 24 in approx
        # multi-probe + 4 OR-amplified tables: full recall of the
        # perturbed family on this seeded corpus
        assert len(exact & approx) >= 4

    def test_lsh_topk_amplified_recall_real_embeddings(self, spark, sf_dir):
        """Registered-query config (b=6, L=8, multi-probe) on the sf0.001
        embeddings: ≥0.85 recall of the exact top-10 — these neighbors
        sit at cosine ≈0.5 (no planted clusters), the hard LSH case.
        Deterministic: seeded planes + fixed data."""
        emb = (spark.read.parquet(f"{sf_dir}/embeddings.parquet")
               .withColumn("embedding",
                           F.col("embedding").cast("array<double>")))
        q = emb.filter(F.col("vec_id") < 5)
        exact = {(r["query_id"], r["neighbor_id"]) for r in
                 similarity.brute_force_topk(emb, q, k=10).collect()}
        approx = {(r["query_id"], r["neighbor_id"]) for r in
                  similarity.lsh_topk(emb, q, k=10, n_planes=6,
                                      n_tables=8, dim=64).collect()}
        assert len(exact & approx) / len(exact) >= 0.85

    def test_embedding_pairs_lsh_recall(self, spark, sf_dir):
        """Registered embedding_pairs_lsh config (b=4, L=16) recalls
        ≥0.95 of the exact cosine≥0.4 pairs and never invents one."""
        emb = (spark.read.parquet(f"{sf_dir}/embeddings.parquet")
               .withColumn("embedding",
                           F.col("embedding").cast("array<double>")))
        exact = {(r["id1"], r["id2"]) for r in
                 similarity.embedding_cosine_pairs(
                     emb, threshold=0.4).collect()}
        lsh = {(r["id1"], r["id2"]) for r in
               similarity.embedding_cosine_pairs(
                   emb, threshold=0.4, n_planes=4, n_tables=16,
                   dim=64).collect()}
        assert lsh <= exact
        assert len(exact & lsh) / len(exact) >= 0.95

    def test_embedding_cosine_pairs(self, vectors):
        pairs = {(r["id1"], r["id2"])
                 for r in similarity.embedding_cosine_pairs(
                     vectors, threshold=0.99).collect()}
        # perturbed family of vec 0 all mutually similar
        assert (0, 20) in pairs
        lsh_pairs = {(r["id1"], r["id2"])
                     for r in similarity.embedding_cosine_pairs(
                         vectors, threshold=0.99, n_planes=4).collect()}
        # identical vectors always share a bucket; perturbed ones may not
        assert (0, 24) in lsh_pairs
        assert lsh_pairs <= pairs  # LSH never invents pairs


class TestSignatureParity:
    def test_column_and_arrow_signatures_agree(self, spark, sf_dir):
        """The pure-Column signature expression and the Arrow-matmul UDF
        are independent implementations of the same math — they must
        produce identical table signatures on real embeddings."""
        from pyspark.sql import functions as F
        from validatelite_spark.operators.similarity import (
            _hyperplanes, _table_signatures, _table_signatures_pandas)
        emb = (spark.read.parquet(f"{sf_dir}/embeddings.parquet")
               .withColumn("embedding",
                           F.col("embedding").cast("array<double>")))
        tables = [_hyperplanes(64, 8, 42 + 7919 * t) for t in range(4)]
        both = emb.select(
            "vec_id",
            _table_signatures(F.col("embedding"), tables).alias("col_sig"),
            _table_signatures_pandas(tables)(F.col("embedding"))
            .alias("arrow_sig"))
        bad = both.filter(F.col("col_sig") != F.col("arrow_sig")).count()
        assert bad == 0


class TestContainmentPairs:
    def test_quote_inclusion_found_where_jaccard_misses(self, spark):
        from validatelite_spark.operators.dedup import (
            ngram_containment_pairs,
            ngram_jaccard_pairs,
        )
        quote = "the quick brown fox jumps over the lazy dog"
        long_doc = ("completely unrelated opening about spark shuffles "
                    "and parquet scans with many extra tokens here "
                    + quote +
                    " and then a long trailing section about adaptive "
                    "query execution broadcast joins and partition "
                    "pruning that dominates the union of the shingles")
        df = spark.createDataFrame(
            [(1, quote), (2, long_doc),
             (3, "something else entirely different")],
            "doc_id long, text string")
        cont = ngram_containment_pairs(df, threshold=0.8).collect()
        assert [(r["id1"], r["id2"]) for r in cont] == [(1, 2)]
        assert cont[0]["containment"] == 1.0
        jac = ngram_jaccard_pairs(df, threshold=0.5).collect()
        assert jac == []  # jaccard blind to the embedded quote

    def test_matches_python_reference(self, spark):
        from validatelite_spark.operators.dedup import \
            ngram_containment_pairs
        texts = {1: "a b c d e f g", 2: "a b c d x y z",
                 3: "a b c d e f g h i", 4: "p q r s t"}
        df = spark.createDataFrame(
            list(texts.items()), "doc_id long, text string")

        def sh(t, n=3):
            toks = t.split()
            return {" ".join(toks[i:i + n])
                    for i in range(len(toks) - n + 1)}

        want = {}
        ids = sorted(texts)
        for i, a in enumerate(ids):
            for b in ids[i + 1:]:
                c = len(sh(texts[a]) & sh(texts[b]))
                m = min(len(sh(texts[a])), len(sh(texts[b])))
                if m and round(c / m + 1e-9, 6) >= 0.4:
                    want[(a, b)] = round(c / m + 1e-9, 6)
        got = {(r["id1"], r["id2"]): r["containment"]
               for r in ngram_containment_pairs(df, threshold=0.4)
               .collect()}
        assert got == want and want  # non-empty reference


class TestDedupCensus:
    def test_histogram(self, spark):
        # components: {1,2,3} size 3, {7,9} and {20,21} size 2
        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (9, 7), (20, 21)], "id1 long, id2 long")
        got = [(r.cluster_size, r.n_clusters, r.n_docs)
               for r in dedup.dedup_census(
                   dedup.dedup_groups(pairs)).collect()]
        assert got == [(2, 2, 4), (3, 1, 3)]


class TestPackedPairKey:
    """r06 optimization pin: the packed single-long pair key
    (id1<<32|id2, used when keys are integral and < 2^31) must produce
    exactly the two-column aggregate's pairs — compared here by
    running the same corpus through the packed path (bigint ids) and
    the fallback path (string ids, unpackable)."""

    def test_packed_equals_string_key_path(self, spark):
        from pyspark.sql import functions as F

        from validatelite_spark.operators.dedup import ngram_jaccard_pairs

        docs = spark.read.parquet(
            "/root/testdata/sf0.01/documents.parquet")
        # string keys sort lexicographically, flipping some pairs'
        # (id1, id2) orientation — compare unordered pairs
        packed = {(frozenset((r["id1"], r["id2"])), r["jaccard"]) for r
                  in ngram_jaccard_pairs(docs, "text", "doc_id",
                                         n=3, threshold=0.5).collect()}
        spark.catalog.clearCache()
        sdocs = docs.withColumn("doc_id",
                                F.col("doc_id").cast("string"))
        fallback = {(frozenset((int(r["id1"]), int(r["id2"]))),
                     r["jaccard"])
                    for r in ngram_jaccard_pairs(
                        sdocs, "text", "doc_id",
                        n=3, threshold=0.5).collect()}
        assert packed == fallback

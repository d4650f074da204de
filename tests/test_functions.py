"""Ground-truth tests for the LLM-pipeline operators that the DuckDB oracle
can't verify (Spark-specific hashes, Python batch UDFs, probabilistic LSH):
brute-force recomputation in Python/numpy is the oracle here."""

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from datarepo_spark.core import exec as E
from datarepo_spark.functions import dedup as D
from datarepo_spark.functions import multimodal as M
from datarepo_spark.functions import similarity as S
from datarepo_spark.functions import text as X

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog near the river bank"),
    (1, "the quick brown fox jumps over the lazy dog near the river bend"),  # near-dup of 0
    (2, "a completely different document about spark query engines and joins"),
    (3, "the quick brown fox jumps over the lazy dog near the river bank"),  # exact dup of 0
    (4, "spark query engines execute joins aggregations and window functions"),
    (5, "short text"),
]


@pytest.fixture(scope="module")
def docs_df(spark):
    return spark.createDataFrame(DOCS, ["doc_id", "text"])


def py_shingles(text, n=3):
    toks = [t for t in text.lower().split() if t]
    if len(toks) < n:
        return {" ".join(toks)}
    return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}


def py_jaccard(a, b):
    return len(a & b) / len(a | b) if a | b else 0.0


class TestExactDedup:
    def test_min_id_survivor(self, spark, docs_df):
        out = D.exact_dedup(docs_df).select("doc_id").collect()
        ids = sorted(r.doc_id for r in out)
        assert ids == [0, 1, 2, 4, 5]  # 3 collapses into 0

    def test_normalization(self, spark):
        df = spark.createDataFrame(
            [(0, "Hello World"), (1, "  hello world  ")], ["doc_id", "text"]
        )
        assert D.exact_dedup(df).count() == 1

    def test_project_variant_matches_join_variant(self, spark, docs_df):
        """exact_dedup_project (min-struct agg, no join) must pick the
        same min-id survivors and carry their payload correctly."""
        from pyspark.sql import functions as F

        withq = docs_df.withColumn("q", F.length("text").cast("double"))
        via_join = sorted(
            (r.doc_id, r.q)
            for r in D.exact_dedup(withq).select("doc_id", "q").collect()
        )
        via_agg = sorted(
            (r.doc_id, r.q)
            for r in D.exact_dedup_project(withq, ["doc_id", "q"]).collect()
        )
        assert via_agg == via_join

    def test_project_requires_id_col(self, spark, docs_df):
        import pytest

        with pytest.raises(ValueError, match="doc_id"):
            D.exact_dedup_project(docs_df, ["text"])


def _settled_persist_count(spark, expect_at_most=None, timeout_s=10.0):
    """getPersistentRDDs after async unpersist(blocking=False) calls is
    eventually consistent — a count snapshot taken right after another
    test's release can still include entries that drop milliseconds
    later (observed as an order-dependent full-suite flake). Poll until
    the count stops decreasing (and, when the caller knows a bound,
    until it reaches it)."""
    import time as _time

    def n():
        return spark.sparkContext._jsc.sc().getPersistentRDDs().size()

    deadline = _time.monotonic() + timeout_s
    last = n()
    while _time.monotonic() < deadline:
        _time.sleep(0.2)
        cur = n()
        if cur == last and (expect_at_most is None or cur <= expect_at_most):
            return cur
        last = cur
    return last


class TestCacheLifecycle:
    def test_unpersist_intermediates_releases_pipeline_caches(
        self, spark, docs_df
    ):
        """Repeated dedup pipelines in one session must not accumulate
        cached DataFrames once unpersist_intermediates() is called — the
        documented cache-lifecycle contract for the internal persists."""

        def n_persisted():
            return spark.sparkContext._jsc.sc().getPersistentRDDs().size()

        E.unpersist_intermediates()
        base = _settled_persist_count(spark)
        for _ in range(3):
            D.simhash_dedup_pairs(docs_df, portable=False).count()
            D.minhash_lsh_dedup_pairs(docs_df, threshold=0.5).count()
        assert n_persisted() > 0  # pipelines did persist
        released = E.unpersist_intermediates()
        # minhash's candidate-shingle cache is the one internal persist
        # per pipeline run (simhash/bucket_pairs are persist-free since
        # the nested-generator rewrite)
        assert released >= 3
        # releases are async; the count settles AT OR BELOW the settled
        # baseline (never above — nothing of ours may linger)
        assert _settled_persist_count(spark, expect_at_most=base) <= base

    def test_dedup_scope_releases_automatically(self, spark, docs_df):
        """with dedup_scope(): two sequential pipeline runs leave ZERO
        cached RDDs behind on exit, no manual call needed (VERDICT r5
        #7 — the documented footgun removed)."""

        def n_persisted():
            return spark.sparkContext._jsc.sc().getPersistentRDDs().size()

        E.unpersist_intermediates()
        base = n_persisted()
        with E.dedup_scope():
            D.minhash_lsh_dedup_pairs(docs_df, threshold=0.5).count()
            D.minhash_lsh_dedup_pairs(docs_df, threshold=0.6).count()
            assert n_persisted() > base  # pipelines did persist
        assert n_persisted() == base  # scope exit released them
        assert E.unpersist_intermediates() == 0  # nothing left over

    def test_dedup_scope_nests(self, spark, docs_df):
        def n_persisted():
            return spark.sparkContext._jsc.sc().getPersistentRDDs().size()

        E.unpersist_intermediates()
        base = n_persisted()
        with E.dedup_scope():
            D.minhash_lsh_dedup_pairs(docs_df, threshold=0.5).count()
            outer_n = n_persisted()
            outer_live = len(E.LIVE_CACHES)
            with E.dedup_scope():
                # different shingle width -> a genuinely distinct plan
                # (same-plan persists dedupe in Spark's CacheManager)
                D.minhash_lsh_dedup_pairs(docs_df, n=4, threshold=0.6).count()
                assert len(E.LIVE_CACHES) > outer_live
            # inner scope released only its own caches
            assert len(E.LIVE_CACHES) == outer_live
            assert n_persisted() >= outer_n
        assert n_persisted() == base
        assert len(E.LIVE_CACHES) == 0


class TestMinHashLSH:
    def test_candidates_contain_true_near_dups(self, spark, docs_df):
        cands = {
            (r.id_a, r.id_b)
            for r in D.minhash_lsh_candidates(docs_df).collect()
        }
        # exact dup pair and the 1-token-edit pair must be candidates
        assert (0, 3) in cands
        assert (0, 1) in cands or (1, 3) in cands

    def test_verified_pairs_match_bruteforce(self, spark, docs_df):
        pairs = {
            (r.id_a, r.id_b): r.jaccard
            for r in D.minhash_lsh_dedup_pairs(docs_df, threshold=0.5).collect()
        }
        for (ia, ib), j in pairs.items():
            truth = py_jaccard(
                py_shingles(DOCS[ia][1]), py_shingles(DOCS[ib][1])
            )
            assert j == pytest.approx(truth, abs=1e-6)
            assert truth >= 0.5
        assert (0, 3) in pairs  # identical docs always survive

    def test_shingles_match_python(self, spark, docs_df):
        rows = D.with_shingles(docs_df, "text", "doc_id").collect()
        for r in rows:
            assert set(r.grams) == py_shingles(DOCS[r.doc_id][1])


class TestSimHash:
    def test_identical_docs_hamming_zero(self, spark, docs_df):
        pairs = {
            (r.id_a, r.id_b): r.hamming
            for r in D.simhash_dedup_pairs(docs_df, max_hamming=3).collect()
        }
        assert pairs.get((0, 3)) == 0

    def test_banding_is_complete_for_k3(self, spark, docs_df):
        # any pair within hamming ≤ 3 MUST be found (pigeonhole over 4 bands)
        sh = {r.doc_id: r.sh for r in D.simhash_df(docs_df).collect()}
        found = {
            (r.id_a, r.id_b)
            for r in D.simhash_dedup_pairs(docs_df, max_hamming=3).collect()
        }
        for ia in sh:
            for ib in sh:
                if ia < ib:
                    ham = bin((sh[ia] ^ sh[ib]) & ((1 << 64) - 1)).count("1")
                    if ham <= 3:
                        assert (ia, ib) in found

    @pytest.mark.parametrize("max_hamming,portable", [(4, False), (4, True)])
    def test_banding_covers_remainder_bits(
        self, spark, docs_df, max_hamming, portable
    ):
        """bits % bands != 0 (64/5 and 60/5 band splits): the last band
        must absorb the remainder bits or pairs differing only in the top
        bits escape the pigeonhole guarantee."""
        bits = 60 if portable else 64
        sh = {
            r.doc_id: r.sh
            for r in D.simhash_df(docs_df, portable=portable).collect()
        }
        found = {
            (r.id_a, r.id_b)
            for r in D.simhash_dedup_pairs(
                docs_df, max_hamming=max_hamming, portable=portable
            ).collect()
        }
        expected = {
            (ia, ib)
            for ia in sh
            for ib in sh
            if ia < ib
            and bin((sh[ia] ^ sh[ib]) & ((1 << bits) - 1)).count("1")
            <= max_hamming
        }
        assert expected <= found  # pigeonhole: no misses
        # and verification filtered precisely
        assert found == expected

    def test_portable_signature_is_sha_derived(self, spark):
        """portable simhash of one gram IS its 60-bit sha256 prefix —
        pins the engine-portable hash contract the DuckDB oracle relies
        on."""
        import hashlib

        df = spark.createDataFrame([(1, "hello")], ["doc_id", "text"])
        got = D.simhash_df(df, portable=True).collect()[0].sh
        expected = int(hashlib.sha256(b"hello").hexdigest()[:15], 16)
        assert got == expected


class TestSimHashConstructionParity:
    def test_explode_agg_matches_expression_form(self, spark):
        """The pipeline construction (explode + 64 conditional sums) must
        produce bit-identical simhashes to the reference expression form
        (array of hashes + per-bit folds), including 0-token docs."""
        rows = DOCS + [(6, ""), (7, "   ")]
        df = spark.createDataFrame(rows, ["doc_id", "text"])
        got = {r.doc_id: r.sh for r in D.simhash_df(df).collect()}

        sh = D.with_shingles(df, "text", "doc_id", n=2, out="__sh")
        hashes = sh.select(
            "doc_id",
            F.transform(F.col("__sh"), lambda s: F.xxhash64(s)).alias("__h"),
        )
        expected = {
            r.doc_id: r.sh
            for r in hashes.select(
                "doc_id", D.simhash_from_hashes(F.col("__h")).alias("sh")
            ).collect()
        }
        assert got == expected
        assert set(got) == {0, 1, 2, 3, 4, 5, 6, 7}

    def test_signature_exchange_budget(self, spark, sf_dir):
        """SimHash signatures cost exactly two narrow exchanges (distinct
        on 16-byte (id, hash) rows + the 64-lane vote aggregate) — never a
        shuffle of document text and never an interpreted per-row fold.
        The one allowed text-carrying exchange is the degenerate-scan
        spread_input repartition, and it must ship exactly (id, text).
        (Asserted structurally off the formatted plan's Exchange Input
        column lists — the previous substring-offset check was brittle
        against expression-id width, i.e. test order.)"""
        import re

        df = spark.read.parquet(f"{sf_dir}/documents.parquet")
        q = D.simhash_df(df, "text", "doc_id")
        plan = q._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange") <= 3  # spread + distinct + votes
        formatted = q._sc._jvm.PythonSQLUtils.explainString(
            q._jdf.queryExecution(), "formatted"
        )
        text_exchanges = [
            cols
            for cols in re.findall(
                r"\(\d+\) Exchange\nInput \[\d+\]: \[([^\]]*)\]", formatted
            )
            if "text#" in cols
        ]
        # at most the one spread repartition, projected to (id, text)
        assert len(text_exchanges) <= 1, text_exchanges
        for cols in text_exchanges:
            assert len(cols.split(",")) == 2, cols


class TestBucketPairs:
    def test_matches_bruteforce_on_overlapping_buckets(self, spark):
        import itertools

        rows = [
            (i, b)
            for b in ("x", "y", "z")
            for i in range(0, 30, {"x": 2, "y": 3, "z": 5}[b])
        ]
        df = spark.createDataFrame(rows, ["id", "bucket"])
        got = sorted(
            (r.id_a, r.id_b)
            for r in D.bucket_pairs(df, ["bucket"], "id").collect()
        )
        by_bucket = {}
        for i, b in rows:
            by_bucket.setdefault(b, set()).add(i)
        expected = sorted(
            {
                pair
                for members in by_bucket.values()
                for pair in itertools.combinations(sorted(members), 2)
            }
        )
        assert got == expected

    def test_adversarial_bucket_bounded(self, spark):
        """One degenerate 5k-member bucket: dropped by the cap, and the
        plan's per-row state stays O(cap) (member array), never a C(n,2)
        in-row pair product."""
        rows = [(i, "degenerate") for i in range(5000)] + [
            (i, "ok") for i in range(3)
        ]
        df = spark.createDataFrame(rows, ["id", "bucket"])
        pairs = D.bucket_pairs(df, ["bucket"], "id", max_bucket_size=2000)
        got = sorted((r.id_a, r.id_b) for r in pairs.collect())
        assert got == [(0, 1), (0, 2), (1, 2)]
        plan = pairs._jdf.queryExecution().executedPlan().toString()
        # pair expansion is nested streaming generators in one stage —
        # no self-join, no in-row C(n,2) array product
        assert "posexplode" in plan
        assert "slice" in plan
        assert "Join" not in plan

    def test_pairs_and_oversize_cap(self, spark):
        rows = [(i, "b1") for i in range(4)] + [(i, "huge") for i in range(100)]
        df = spark.createDataFrame(rows, ["id", "bucket"])
        pairs = D.bucket_pairs(df, ["bucket"], "id", max_bucket_size=50)
        got = sorted((r.id_a, r.id_b) for r in pairs.collect())
        # bucket b1 → C(4,2)=6 pairs; 'huge' dropped by the cap...
        assert len(got) == 6
        assert got[0] == (0, 1)

    def test_duplicate_bucket_rows_collapse(self, spark):
        df = spark.createDataFrame(
            [(1, "b"), (1, "b"), (2, "b")], ["id", "bucket"]
        )
        pairs = D.bucket_pairs(df, ["bucket"], "id")
        assert [(r.id_a, r.id_b) for r in pairs.collect()] == [(1, 2)]


class TestCosine:
    def test_matches_numpy(self, spark):
        rng = np.random.default_rng(0)
        vecs = [(i, rng.standard_normal(8).astype("float32").tolist()) for i in range(5)]
        df = spark.createDataFrame(vecs, ["vec_id", "embedding"])
        a = df.select(
            F.col("vec_id").alias("id_a"), F.col("embedding").alias("va")
        )
        b = df.select(
            F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb")
        )
        out = (
            a.join(b, F.col("id_a") < F.col("id_b"))
            .select(
                "id_a", "id_b",
                D.cosine_similarity(F.col("va"), F.col("vb")).alias("c"),
            )
            .collect()
        )
        for r in out:
            va = np.array(vecs[r.id_a][1], dtype=np.float64)
            vb = np.array(vecs[r.id_b][1], dtype=np.float64)
            truth = float(va @ vb / (np.linalg.norm(va) * np.linalg.norm(vb)))
            assert r.c == pytest.approx(truth, rel=1e-9)


class TestANN:
    @pytest.fixture(scope="class")
    def emb(self, spark, sf_dir):
        return spark.read.parquet(f"{sf_dir}/embeddings.parquet")

    def test_brute_force_matches_numpy_topk(self, spark, emb):
        rows = emb.collect()
        q = [float(x) for x in rows[0].embedding]
        got = [r.vec_id for r in S.knn_brute_force(emb, q, k=5).collect()]
        mat = np.array([[float(x) for x in r.embedding] for r in rows])
        qv = np.array(q)
        cos = (mat @ qv) / (np.linalg.norm(mat, axis=1) * np.linalg.norm(qv))
        order = sorted(
            range(len(rows)),
            key=lambda i: (-round(cos[i], 6), rows[i].vec_id),
        )[:5]
        assert got == [rows[i].vec_id for i in order]

    def test_lsh_finds_self_and_has_recall(self, spark, emb):
        rows = emb.limit(1).collect()
        q = [float(x) for x in rows[0].embedding]
        lsh = S.RandomHyperplaneLSH(dim=64, n_planes=6, seed=7)
        ann = [r.vec_id for r in lsh.knn(emb, q, k=10, multi_probe=14).collect()]
        assert rows[0].vec_id in ann  # the query's own vector is findable
        brute = [r.vec_id for r in S.knn_brute_force(emb, q, k=10).collect()]
        recall = len(set(ann) & set(brute)) / 10
        assert recall >= 0.4, f"ANN recall@10 too low: {recall}"


class TestText:
    def test_fingerprint_matches_python(self, spark, docs_df):
        out = {
            r.doc_id: r.fp
            for r in docs_df.select(
                "doc_id", X.fingerprint(F.col("text")).alias("fp")
            ).collect()
        }
        for doc_id, text in DOCS:
            h = 0
            for tok in [t for t in text.split() if t]:
                h = (h * 31 + len(tok) * ord(tok[0])) % X.FINGERPRINT_MOD
            assert out[doc_id] == h

    def test_language_id_english(self, spark, docs_df):
        out = docs_df.select(
            X.detect_language(F.col("text")).alias("lang")
        ).collect()
        assert out[0].lang == "en"

    def test_language_id_profiles(self, spark):
        df = spark.createDataFrame(
            [
                (0, "el perro corre por la calle y los gatos duermen"),
                (1, "der hund läuft und die katze schläft mit dem kind"),
                (2, "le chien court dans la rue et les chats dorment"),
                (3, "这是一个中文文档 spark 引擎"),
                (4, "zzz qqq xxx"),
            ],
            ["doc_id", "text"],
        )
        out = [r.lang for r in df.select(
            X.detect_language(F.col("text")).alias("lang")
        ).collect()]
        assert out == ["es", "de", "fr", "zh", "unknown"]

    def test_quality_score_range(self, spark, docs_df):
        out = docs_df.select(X.quality_score(F.col("text")).alias("q")).collect()
        assert all(0.0 <= r.q <= 1.0 for r in out)
        # real sentence scores above junk
        scores = {r[0]: r[1] for r in zip([d[0] for d in DOCS], [r.q for r in out])}
        assert scores[0] > scores[5]

    def test_repetition_stats(self, spark):
        df = spark.createDataFrame(
            [
                # 4 non-blank lines, 2 distinct → dup_line_frac 0.5;
                # bigrams of "a b\na b\nc d\nc d": most common "b a"?
                # tokens: a b a b c d c d → bigrams (7): ab,ba,ab,bc,
                # cd,dc,cd → top "ab"/"cd" = 2/7
                (0, "a b\na b\nc d\nc d"),
                (1, "the the the the"),  # one bigram repeated: 1.0
                (2, "all lines distinct\nno repeats here"),
                (3, ""),  # no lines, no tokens
            ],
            ["doc_id", "text"],
        )
        got = {
            r.doc_id: (r.dup_line_frac, r.top_bigram_frac)
            for r in X.repetition_stats(df).collect()
        }
        assert got[0] == (0.5, round(2 / 7, 6))
        assert got[1] == (0.0, 1.0)
        assert got[2] == (0.0, round(1 / 5, 6))
        assert got[3] == (0.0, 1.0)  # '' whole-doc gram convention


class TestMultimodal:
    def test_feature_extraction_deterministic(self, spark, docs_df):
        media = M.documents_as_media(docs_df)
        feats = {r.media_id: r for r in M.extract_features(media).collect()}
        for doc_id, text in DOCS:
            expected = M.fake_feature_decoder(text.encode("utf-8"))
            got = feats[doc_id]
            assert got.n_bytes == len(text.encode("utf-8"))
            assert len(got.features) == M.FEATURE_DIM
            assert got.features == pytest.approx(expected, rel=1e-12)

    def test_ppm_decode_roundtrip(self):
        import numpy as np

        # 2×1 image: red pixel then blue pixel, with a header comment
        content = b"P6\n# test\n2 1\n255\n" + bytes(
            [255, 0, 0, 0, 0, 255]
        )
        img = M.decode_ppm(content)
        assert (img["width"], img["height"], img["maxval"]) == (2, 1, 255)
        assert np.array_equal(
            img["pixels"], [[[255, 0, 0], [0, 0, 255]]]
        )

    def test_ppm_decode_rejects_bad_payloads(self):
        with pytest.raises(ValueError, match="P6"):
            M.decode_ppm(b"JFIF....")
        with pytest.raises(ValueError, match="truncated"):
            M.decode_ppm(b"P6\n4 4\n255\n\x00\x00")

    def test_ppm_features_end_to_end(self, spark, docs_df):
        """documents_as_ppm builds REAL P6 bytes in Catalyst; the decode
        stage parses the container and the channel means match a pure-
        python recompute of the repeated-text raster."""
        media = M.documents_as_ppm(docs_df)
        rows = {r.media_id: r for r in media.collect()}
        # container is valid PPM: decode one payload directly
        img = M.decode_ppm(bytes(rows[0].content))
        assert (img["width"], img["height"]) == (M.PPM_WIDTH, M.PPM_HEIGHT)
        feats = {
            r.media_id: r.features
            for r in M.extract_features(
                media, decoder=M.ppm_feature_decoder
            ).collect()
        }
        need = M.PPM_WIDTH * M.PPM_HEIGHT * 3
        for doc_id, text in DOCS:
            t = (text or " ").encode("utf-8")
            raster = (t * (need // len(t) + 1))[:need]
            r_mean = sum(raster[0::3]) / (need / 3)
            assert feats[doc_id][0] == pytest.approx(r_mean, abs=1e-9)
            assert feats[doc_id][3:] == [
                float(M.PPM_WIDTH),
                float(M.PPM_HEIGHT),
            ]

    def test_wav_roundtrip_and_features(self):
        import numpy as np

        samples = [0, 1000, -1000, 32767, -32768, 0, 5]
        blob = M.encode_wav_pcm16(samples, sample_rate=8000)
        wav = M.decode_wav(blob)
        assert wav["sample_rate"] == 8000
        assert wav["n_channels"] == 1
        assert np.array_equal(wav["samples"], np.asarray(samples, "<i2"))
        dur, rms, peak, crossings = M.wav_feature_decoder(blob)
        assert dur == pytest.approx(len(samples) / 8000.0)
        assert peak == 32768.0
        s = np.asarray(samples, dtype="float64")
        assert rms == pytest.approx(float(np.sqrt((s * s).mean())))

    def test_wav_rejects_non_pcm16(self):
        with pytest.raises(ValueError, match="RIFF"):
            M.decode_wav(b"OggS....")
        blob = bytearray(M.encode_wav_pcm16([1, 2, 3]))
        blob[20] = 3  # audio_format = IEEE float
        with pytest.raises(ValueError, match="PCM16"):
            M.decode_wav(bytes(blob))

    def test_wav_features_through_spark(self, spark):
        """WAV bytes survive the binary column + mapInPandas path."""
        blobs = [
            (0, M.encode_wav_pcm16([0, 100, -100, 200])),
            (1, M.encode_wav_pcm16([5000] * 16)),
        ]
        df = spark.createDataFrame(blobs, ["media_id", "content"])
        got = {
            r.media_id: r.features
            for r in M.extract_features(
                df, decoder=M.wav_feature_decoder
            ).collect()
        }
        assert got[1][2] == 5000.0  # peak
        assert got[0][3] == 2.0  # two sign crossings

    def test_frame_sample_counts(self, spark, docs_df):
        media = M.documents_as_media(docs_df)
        frames = M.frame_sample(media, every_n_bytes=16, max_frames=4)
        counts = (
            frames.groupBy("media_id").count().collect()
        )
        by_id = {r.media_id: r["count"] for r in counts}
        for doc_id, text in DOCS:
            nb = len(text.encode("utf-8"))
            assert by_id[doc_id] == min(4, nb // 16 + 1)
        row = frames.filter(
            (F.col("media_id") == 0) & (F.col("frame_no") == 0)
        ).head()
        assert bytes(row.frame_bytes) == DOCS[0][1].encode("utf-8")[:16]


class TestIVF:
    def test_fit_search_recall(self, spark, sf_dir):
        from datarepo_spark.functions.ivf import IVFIndex

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        rows = emb.limit(1).collect()
        q = [float(x) for x in rows[0].embedding]
        index = IVFIndex.fit(emb, k=8, iterations=4)
        assert index.centroids.shape == (8, 64)
        ann = [r.vec_id for r in index.search(emb, q, k=10, nprobe=3).collect()]
        assert rows[0].vec_id in ann
        brute = [r.vec_id for r in S.knn_brute_force(emb, q, k=10).collect()]
        recall = len(set(ann) & set(brute)) / 10
        assert recall >= 0.4, f"IVF recall@10 too low: {recall}"

    def test_assignment_is_total_partition(self, spark, sf_dir):
        from datarepo_spark.functions.ivf import IVFIndex

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        index = IVFIndex.fit(emb, k=4, iterations=2)
        assigned = index.assign(emb)
        assert assigned.count() == emb.count()
        cells = {r.cell for r in assigned.select("cell").distinct().collect()}
        assert cells <= set(range(4))

    def test_fit_deterministic(self, spark, sf_dir):
        from datarepo_spark.functions.ivf import IVFIndex

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        i1 = IVFIndex.fit(emb, k=4, iterations=2, seed=7)
        i2 = IVFIndex.fit(emb, k=4, iterations=2, seed=7)
        assert (i1.centroids == i2.centroids).all()


class TestProductQuantizer:
    @pytest.fixture(scope="class")
    def emb(self, spark, sf_dir):
        return spark.read.parquet(f"{sf_dir}/embeddings.parquet")

    def test_encode_shape_and_range(self, spark, emb):
        from datarepo_spark.functions.pq import ProductQuantizer

        pq = ProductQuantizer.fit(emb, m=8, iterations=3)
        assert pq.dim == 64 and pq.dsub == 8
        codes = pq.encode(emb).collect()
        assert len(codes) == emb.count()
        for r in codes:
            assert len(r.codes) == 8
            assert all(0 <= c < pq.ksub for c in r.codes)

    def test_adc_approximates_cosine(self, spark, emb):
        """The ADC score from 8 one-byte codes must track exact cosine
        closely enough that top-1 by ADC ∈ exact top-5."""
        from datarepo_spark.functions.pq import ProductQuantizer

        rows = emb.limit(1).collect()
        q = [float(x) for x in rows[0].embedding]
        pq = ProductQuantizer.fit(emb, m=8, iterations=4)
        scored = pq.adc_scores(pq.encode(emb), q)
        top_adc = scored.orderBy(F.desc("approx_cosine")).head().vec_id
        exact5 = {
            r.vec_id for r in S.knn_brute_force(emb, q, k=5).collect()
        }
        assert top_adc in exact5

    def test_search_recall_with_refine(self, spark, emb):
        from datarepo_spark.functions.pq import ProductQuantizer

        rows = emb.limit(1).collect()
        q = [float(x) for x in rows[0].embedding]
        pq = ProductQuantizer.fit(emb, m=8, iterations=4)
        ann = [r.vec_id for r in pq.search(emb, q, k=10, refine=4).collect()]
        brute = [r.vec_id for r in S.knn_brute_force(emb, q, k=10).collect()]
        recall = len(set(ann) & set(brute)) / 10
        assert recall >= 0.6, f"PQ recall@10 too low: {recall}"
        # refined output is ordered by EXACT cosine: any shared prefix
        # with brute force must agree
        shared = [v for v in ann if v in set(brute)]
        assert shared == [v for v in brute if v in set(ann)]

    def test_dim_not_divisible_raises(self, spark, emb):
        from datarepo_spark.functions.pq import ProductQuantizer

        with pytest.raises(ValueError, match="not divisible"):
            ProductQuantizer.fit(emb, m=7, iterations=1)


class TestPiiRedact:
    def test_synthetic_pii_all_types(self, spark):
        from datarepo_spark.functions import text as X

        rows = [
            (0, "contact a.b@x-corp.io or admin@sub.example.org today"),
            (1, "ssn 123-45-6789 phone 555-123-4567 mixed"),
            (2, "server 10.0.0.1 card 1234-5678-9012-3456"),
            (3, "clean text with no pii at all"),
            (4, "edge 999.999.999.999 still redacts shape-wise"),
        ]
        df = spark.createDataFrame(rows, ["doc_id", "text"])
        got = {
            r.doc_id: r.clean
            for r in df.select(
                "doc_id", X.redact_pii(F.col("text")).alias("clean")
            ).collect()
        }
        assert got[0] == "contact <EMAIL> or <EMAIL> today"
        assert got[1] == "ssn <SSN> phone <PHONE> mixed"
        assert got[2] == "server <IP> card <CARD>"
        assert got[3] == rows[3][1]  # untouched
        assert got[4] == "edge <IP> still redacts shape-wise"

    def test_spark_matches_python_reference(self, spark):
        import re

        from datarepo_spark.functions import text as X

        samples = [
            "a@b.co 1.2.3.4", "no pii", "x 111-22-3333 y",
            "999-999-9999 dial", "4111 1111 1111 1111",
        ]
        df = spark.createDataFrame(
            [(i, s) for i, s in enumerate(samples)], ["i", "text"]
        )
        got = [
            r.clean
            for r in df.select(
                X.redact_pii(F.col("text")).alias("clean")
            ).orderBy("i").collect()
        ]
        for s, g in zip(samples, got):
            expected = s
            for _n, p, tok in X.PII_PATTERNS:
                expected = re.sub(p, tok, expected)
            assert g == expected


class TestChunking:
    def test_windows_and_overlap(self, spark):
        df = spark.createDataFrame(
            [(1, "a b c d e f g"), (2, "x"), (3, "  ")], ["doc_id", "text"]
        )
        rows = sorted(
            tuple(r)
            for r in X.chunk_tokens(df, chunk_size=4, overlap=2).collect()
        )
        assert rows == [
            (1, 0, "a b c d", 4),
            (1, 1, "c d e f", 4),
            (1, 2, "e f g", 3),
            (1, 3, "g", 1),
            (2, 0, "x", 1),
        ]  # empty doc 3 produces no chunks

    def test_every_token_covered_and_overlap_consistent(self, spark, docs_df):
        chunks = X.chunk_tokens(
            docs_df, chunk_size=5, overlap=2
        ).collect()
        by_doc = {}
        for r in chunks:
            by_doc.setdefault(r.doc_id, []).append(r)
        for doc_id, text in DOCS:
            toks = text.lower().split()
            if not toks:
                continue
            got = sorted(by_doc[doc_id], key=lambda r: r.chunk_id)
            # reconstruct: stride-3 starts cover every token exactly
            rebuilt = []
            for i, r in enumerate(got):
                parts = r.chunk_text.split()
                assert r.n_tokens == len(parts)
                rebuilt.extend(parts if i == 0 else parts[2:])
            assert rebuilt == toks

    def test_overlap_validation(self, spark, docs_df):
        with pytest.raises(ValueError, match="overlap"):
            X.chunk_tokens(docs_df, chunk_size=4, overlap=4)

    def test_no_shuffle(self, spark, docs_df):
        plan = (
            X.chunk_tokens(docs_df)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "Exchange" not in plan


class TestQuantizeInt8:
    def test_matches_numpy(self, spark):
        rng = np.random.default_rng(7)
        vecs = [(i, [float(x) for x in rng.standard_normal(16)])
                for i in range(20)]
        df = spark.createDataFrame(vecs, ["id", "v"])
        got = {
            r.id: (r.qz.scale, list(r.qz.q))
            for r in df.select(
                "id", S.quantize_int8(F.col("v")).alias("qz")
            ).collect()
        }
        for i, v in vecs:
            arr = np.asarray(v, dtype=np.float64)
            scale = np.abs(arr).max() / 127.0
            q = np.floor(arr / scale + 0.5).astype(int)
            assert got[i][0] == pytest.approx(scale, rel=0, abs=0)
            assert got[i][1] == q.tolist()
            assert max(abs(x) for x in got[i][1]) <= 127

    def test_dequantization_error_bounded(self, spark):
        rng = np.random.default_rng(11)
        vecs = [(i, [float(x) for x in rng.standard_normal(64)])
                for i in range(10)]
        df = spark.createDataFrame(vecs, ["id", "v"])
        rows = df.select(
            "id", S.quantize_int8(F.col("v")).alias("qz")
        ).collect()
        for r in rows:
            arr = np.asarray(dict(vecs)[r.id])
            deq = np.asarray(list(r.qz.q), dtype=np.float64) * r.qz.scale
            assert np.abs(deq - arr).max() <= r.qz.scale / 2 + 1e-12

    def test_zero_vector(self, spark):
        df = spark.createDataFrame([(1, [0.0] * 4)], ["id", "v"])
        r = df.select(S.quantize_int8(F.col("v")).alias("qz")).collect()[0]
        assert r.qz.scale == 0.0
        assert list(r.qz.q) == [0, 0, 0, 0]


class TestFirstBandFilter:
    def test_all_band_collisions_emit_exactly_one_pair(self, spark):
        """Identical docs collide in EVERY band; the first-matching-band
        filter (which replaced the global pair distinct) must emit the
        pair exactly once from both LSH pipelines."""
        df = spark.createDataFrame(
            [
                (0, "alpha beta gamma delta epsilon zeta"),
                (1, "alpha beta gamma delta epsilon zeta"),
                (2, "totally different content over here now"),
            ],
            ["doc_id", "text"],
        )
        mh = D.minhash_lsh_candidates(df, n=3).collect()
        assert [(r.id_a, r.id_b) for r in mh] == [(0, 1)]
        sh = D.simhash_dedup_pairs(df, max_hamming=3, portable=True)
        rows = [(r.id_a, r.id_b) for r in sh.collect() if r.id_b == 1]
        assert rows == [(0, 1)]


class TestDuplicateSpans:
    def test_known_corpus(self, spark):
        from datarepo_spark.functions.dedup import duplicate_spans

        shared = "one two three four five"
        rows = [
            (1, f"{shared} alpha beta gamma"),
            (2, f"prefix {shared} suffix words here"),
            (3, "totally unrelated text with no duplication at all"),
            (4, f"{shared} alpha beta gamma"),  # full dup of doc 1
        ]
        df = spark.createDataFrame(rows, ["doc_id", "text"])
        got = {
            (r["doc_id"], r["span_start"], r["span_end"])
            for r in duplicate_spans(df, n=5).collect()
        }
        # docs 1 & 4 (8 tokens) duplicate entirely: windows 0..3 merge
        # into [0, 8). doc 2 contains `shared` at pos 1 — but only the
        # 5-gram starting at pos 1 matches a window that appears
        # elsewhere (the shared sentence is a window in docs 1/4).
        assert (1, 0, 8) in got and (4, 0, 8) in got
        assert (2, 1, 6) in got
        assert not any(d == 3 for d, *_ in got)

    def test_adjacent_windows_merge(self, spark):
        from datarepo_spark.functions.dedup import duplicate_spans

        text = "a b c d e f"
        df = spark.createDataFrame(
            [(1, text), (2, text)], ["doc_id", "text"]
        )
        spans = duplicate_spans(df, n=3).collect()
        # every 3-window duplicates; each doc gets ONE merged span
        assert sorted(
            (r["doc_id"], r["span_start"], r["span_end"], r["n_windows"])
            for r in spans
        ) == [(1, 0, 6, 4), (2, 0, 6, 4)]

    def test_short_docs_excluded(self, spark):
        from datarepo_spark.functions.dedup import duplicate_spans

        df = spark.createDataFrame(
            [(1, "x y"), (2, "x y")], ["doc_id", "text"]
        )
        assert duplicate_spans(df, n=3).count() == 0


class TestNbClassify:
    def test_separable_corpus(self, spark):
        from datarepo_spark.functions.classify import nb_classify

        rows = (
            [(i, "the cat sat on the mat the dog", "en") for i in range(5)]
            + [(10 + i, "el gato y el perro en la casa", "es")
               for i in range(5)]
        )
        df = spark.createDataFrame(rows, ["doc_id", "text", "lang"])
        out = nb_classify(df).collect()
        assert len(out) == 10
        assert all(r["correct"] for r in out)

    def test_prior_breaks_empty_evidence_ties(self, spark):
        from datarepo_spark.functions.classify import nb_classify

        # token 'x' appears equally in both classes; the majority-class
        # prior must decide, deterministically
        rows = [
            (1, "x", "a"), (2, "x", "a"), (3, "x", "a"), (4, "x", "b"),
        ]
        df = spark.createDataFrame(rows, ["doc_id", "text", "lang"])
        out = {r["doc_id"]: r["predicted"] for r in nb_classify(df).collect()}
        assert set(out.values()) == {"a"}

    def test_zero_token_docs_excluded(self, spark):
        from datarepo_spark.functions.classify import nb_classify

        rows = [(1, "hello world", "en"), (2, "   ", "en")]
        df = spark.createDataFrame(rows, ["doc_id", "text", "lang"])
        out = nb_classify(df).collect()
        assert [r["doc_id"] for r in out] == [1]


class TestFunnel:
    def _events(self, spark):
        rows = [
            # u1 completes all stages in order
            (1, "2024-01-01 10:00:00", "view"),
            (1, "2024-01-01 10:05:00", "click"),
            (1, "2024-01-01 10:10:00", "purchase"),
            # u2 clicks BEFORE viewing — click must not count
            (2, "2024-01-01 09:00:00", "click"),
            (2, "2024-01-01 10:00:00", "view"),
            # u3 views only
            (3, "2024-01-01 08:00:00", "view"),
            # u4 never views — absent from the funnel
            (4, "2024-01-01 08:00:00", "purchase"),
        ]
        from pyspark.sql import functions as F2

        return spark.createDataFrame(
            rows, ["user_id", "ts_s", "event_type"]
        ).select(
            "user_id",
            F2.to_timestamp("ts_s").alias("ts"),
            "event_type",
        )

    def test_ordering_enforced(self, spark):
        from datarepo_spark.functions.funnel import funnel

        out = {
            r["user_id"]: r["stages_completed"]
            for r in funnel(
                self._events(spark), ["view", "click", "purchase"]
            ).collect()
        }
        assert out == {1: 3, 2: 1, 3: 1}

    def test_within_bound(self, spark):
        from datarepo_spark.functions.funnel import funnel

        out = {
            r["user_id"]: r["stages_completed"]
            for r in funnel(
                self._events(spark),
                ["view", "click", "purchase"],
                within_seconds=360,
            ).collect()
        }
        # u1's purchase lands 600s after view — outside the horizon
        assert out[1] == 2

    def test_retention_matrix(self, spark):
        from pyspark.sql import functions as F2

        from datarepo_spark.functions.funnel import cohort_retention

        rows = [
            (1, "2024-01-01 10:00:00"),  # week 0 cohort
            (1, "2024-01-09 10:00:00"),  # active week 1
            (2, "2024-01-02 10:00:00"),  # week 0 cohort, never returns
            (3, "2024-01-10 10:00:00"),  # week 1 cohort
        ]
        df = spark.createDataFrame(rows, ["user_id", "ts_s"]).select(
            "user_id", F2.to_timestamp("ts_s").alias("ts")
        )
        got = {
            (str(r["cohort_week"]), r["week_offset"]): r["n_active"]
            for r in cohort_retention(df).collect()
        }
        assert got == {
            ("2024-01-01 00:00:00", 0): 2,
            ("2024-01-01 00:00:00", 1): 1,
            ("2024-01-08 00:00:00", 0): 1,
        }


class TestNormalizeText:
    def test_rules(self, spark):
        from pyspark.sql import functions as F2

        from datarepo_spark.functions.text import normalize_text

        cases = [
            ("<b>Hello</b>   world", "Hello world"),
            ("a\x00b\x01c", "abc"),
            ("“quoted” and ‘single’", "\"quoted\" and 'single'"),
            ("dash — here – too", "dash - here - too"),
            ("nbsp space", "nbsp space"),
            ("  lots\t\tof\n\nspace  ", "lots of space"),
        ]
        df = spark.createDataFrame(
            [(i, s) for i, (s, _) in enumerate(cases)], ["i", "t"]
        )
        got = {
            r["i"]: r["n"]
            for r in df.select(
                "i", normalize_text(F2.col("t")).alias("n")
            ).collect()
        }
        for i, (_, want) in enumerate(cases):
            assert got[i] == want, (i, got[i], want)


class TestLineDedup:
    def test_repeated_lines_survive_first_occurrence_only(self, spark):
        boiler = "subscribe to our newsletter for daily updates"
        docs = spark.createDataFrame(
            [
                (0, f"{boiler}\nunique alpha content here today"),
                (1, f"second doc body line\n{boiler}"),
                (2, f"{boiler}\nthird doc distinct words follow"),
            ],
            ["doc_id", "text"],
        )
        from datarepo_spark.functions.dedup import line_dedup

        out = {r.doc_id: r for r in line_dedup(docs).collect()}
        assert out[0].text == (
            f"{boiler}\nunique alpha content here today"
        )
        assert out[1].text == "second doc body line"
        assert out[2].text == "third doc distinct words follow"
        assert out[1].n_lines_dropped == 1
        assert out[2].n_lines_dropped == 1

    def test_short_lines_never_dedup(self, spark):
        docs = spark.createDataFrame(
            [(0, "hi\nbody one two three four five"),
             (1, "hi\nother body words here now too")],
            ["doc_id", "text"],
        )
        from datarepo_spark.functions.dedup import line_dedup

        out = {r.doc_id: r.text for r in line_dedup(docs).collect()}
        assert out[0].startswith("hi\n") and out[1].startswith("hi\n")

    def test_fully_deduped_doc_survives_empty(self, spark):
        line = "exactly five tokens appear here"
        docs = spark.createDataFrame(
            [(0, line), (1, line)], ["doc_id", "text"]
        )
        from datarepo_spark.functions.dedup import line_dedup

        out = {r.doc_id: r for r in line_dedup(docs).collect()}
        assert out[0].text == line
        assert out[1].text == "" and out[1].n_lines_kept == 0

    def test_null_text_handled(self, spark):
        docs = spark.createDataFrame(
            [(0, None), (1, "real body line with five tokens")],
            ["doc_id", "text"],
        )
        from datarepo_spark.functions.dedup import line_dedup

        out = {r.doc_id: r for r in line_dedup(docs).collect()}
        assert out[0].text == "" and out[0].n_lines_kept == 1
        assert out[1].n_lines_kept == 1


class TestImageAHash:
    """Average-hash image dedup: real decode, integer-exact hash, banded
    hamming pairs (pigeonhole-complete), pooling for larger rasters."""

    def _media(self, spark, width=8, height=8):
        from datarepo_spark.functions import multimodal as M

        docs = spark.createDataFrame(
            [
                (1, "a" * 100 + "b" * 100),
                # near-twin of 1: chars 101-103 -> '~' flips exactly
                # one hash bit (verified numerically; the floored mean
                # is unchanged so no threshold cascade)
                (2, "a" * 100 + "~~~" + "b" * 97),
                (3, "xyz" * 80),  # far from both
            ],
            ["doc_id", "text"],
        )
        return M.documents_as_ppm(docs, width=width, height=height)

    def test_hash_is_deterministic_and_binary(self, spark):
        from datarepo_spark.functions import multimodal as M

        rows = {r.media_id: r.ahash for r in M.image_hashes(self._media(spark)).collect()}
        assert len(rows) == 3
        assert all(len(v) == 64 and set(v) <= {"0", "1"} for v in rows.values())
        again = {r.media_id: r.ahash for r in M.image_hashes(self._media(spark)).collect()}
        assert rows == again

    def test_near_twin_pairs_found_far_docs_not(self, spark):
        from datarepo_spark.functions import multimodal as M

        pairs = {
            (r.id_a, r.id_b): r.hamming
            for r in M.image_near_dup_pairs(
                self._media(spark), max_hamming=3
            ).collect()
        }
        assert pairs[(1, 2)] == 1  # a genuine nonzero-hamming twin
        assert all(3 not in p for p in pairs)

    def test_pooling_matches_unpooled_on_block_uniform_raster(self):
        """The pooling arithmetic itself: a 16x16 raster whose 2x2
        blocks are uniform must hash IDENTICALLY to the 8x8 raster of
        the block values — a transposed reshape or wrong divisor breaks
        this equality."""
        import numpy as np

        from datarepo_spark.functions.multimodal import (
            _pixels_to_ahash_bits,
        )

        rng = np.random.default_rng(5)
        small = rng.integers(0, 256, size=(8, 8, 3), dtype=np.uint8)
        big = np.repeat(np.repeat(small, 2, axis=0), 2, axis=1)
        assert _pixels_to_ahash_bits(big, 8) == _pixels_to_ahash_bits(
            small, 8
        )

    def test_banding_finds_nonzero_hamming_pairs_exactly(self, spark):
        """Direct banding contract at nonzero distances: signatures 1-3
        bits apart are found (pigeonhole), 4+ bits apart are not
        (max_hamming filter), independent of the image fixtures."""
        from datarepo_spark.functions.dedup import hamming_band_pairs

        base = 0x0123456789ABCDEF

        def flip(v, *bits):
            for b in bits:
                v ^= 1 << b
            return v - (1 << 64) if v >= 1 << 63 else v

        rows = [
            (0, base),
            (1, flip(base, 5)),            # hamming 1
            (2, flip(base, 5, 21, 63)),    # hamming 3 (spans bands)
            (3, flip(base, 1, 17, 33, 49)),  # hamming 4: one per band
        ]
        df = spark.createDataFrame(rows, "doc_id long, sh long")
        got = {
            (r.id_a, r.id_b): r.hamming
            for r in hamming_band_pairs(df, max_hamming=3).collect()
        }
        assert got[(0, 1)] == 1
        assert got[(0, 2)] == 3
        assert got[(1, 2)] == 2
        assert (0, 3) not in got  # hamming 4 correctly excluded

    def test_indivisible_grid_raises(self):
        import pytest

        from datarepo_spark.functions.multimodal import average_hash_bits

        content = b"P6\n9 9\n255\n" + bytes([7] * 243)
        with pytest.raises(ValueError, match="grid"):
            average_hash_bits(content, grid=8)


class TestVideoFrameHashes:
    def test_container_walk_and_frame_rotation(self, spark):
        from datarepo_spark.functions import multimodal as M

        docs = spark.createDataFrame(
            [(1, "a" * 64 + "b" * 64)], ["doc_id", "text"]
        )
        media = M.documents_as_video(docs, n_frames=3)
        rows = sorted(
            (r.frame_no, r.ahash)
            for r in M.video_frame_hashes(media).collect()
        )
        assert [f for f, _ in rows] == [0, 1, 2]
        # rotation by 1 char of a 128-char doc shifts the raster: frame
        # hashes need not all be equal, but each is a valid 64-bit hash
        assert all(len(h) == 64 and set(h) <= {"0", "1"} for _, h in rows)

    def test_truncated_container_raises(self):
        import struct

        import pytest

        from datarepo_spark.functions.multimodal import decode_video

        bogus = b"PVID" + struct.pack("<II", 2, 203) + b"P6\n8 8\n255\n" + b"x" * 192
        with pytest.raises(ValueError, match="truncated"):
            decode_video(bogus)
        with pytest.raises(ValueError, match="PVID"):
            decode_video(b"nope")


class TestVideoNearDup:
    def test_twin_videos_match_distinct_do_not(self, spark):
        from datarepo_spark.functions import multimodal as M

        base = "a" * 100 + "b" * 100
        docs = spark.createDataFrame(
            [
                (1, base),
                (2, "~~~" + base[3:]),  # near-twin video of 1
                (3, "xyz" * 70),  # unrelated
            ],
            ["doc_id", "text"],
        )
        media = M.documents_as_video(docs, n_frames=4)
        got = {
            (r.id_a, r.id_b): r.matched_frames
            for r in M.video_near_dup_pairs(
                media, max_hamming=3, min_matched_frames=2
            ).collect()
        }
        assert (1, 2) in got and got[(1, 2)] >= 2
        assert all(3 not in p for p in got)

    def test_min_matched_frames_validated(self, spark):
        import pytest

        from datarepo_spark.functions import multimodal as M

        docs = spark.createDataFrame([(1, "a" * 64)], ["doc_id", "text"])
        with pytest.raises(ValueError, match="min_matched_frames"):
            M.video_near_dup_pairs(
                M.documents_as_video(docs), min_matched_frames=0
            )


class TestAudioNearDup:
    def test_twin_audio_matches_distinct_does_not(self, spark):
        from datarepo_spark.functions import multimodal as M

        import random

        base = "m" * 40 + "z" * 40 + "a" * 40 + "q" * 40
        rng = random.Random(9)
        varied = "".join(
            rng.choice("abcdefghijklmnopqrstuvwxyz AEIOU")
            for _ in range(160)
        )  # ham(base, varied) = 22: genuinely distinct energy profile
        docs = spark.createDataFrame(
            [
                (1, base),
                (2, "~~~" + base[3:]),  # near-twin (ham 1)
                (3, varied),
            ],
            ["doc_id", "text"],
        )
        media = M.documents_as_wav(docs)
        got = {
            (r.id_a, r.id_b): r.hamming
            for r in M.audio_near_dup_pairs(media, max_hamming=5).collect()
        }
        assert (1, 2) in got
        assert all(3 not in p for p in got)

    def test_fingerprint_all_integer_and_bounded(self):
        from datarepo_spark.functions.multimodal import (
            audio_fingerprint_bits,
        )

        bits = audio_fingerprint_bits([0, 100, -200, 300] * 50)
        assert len(bits) == 63 and set(bits) <= {0, 1}
        # short streams (fewer samples than windows) still fingerprint:
        # empty windows carry zero energy
        short = audio_fingerprint_bits([5, -7, 9])
        assert len(short) == 63

    def test_window_count_validated(self):
        import pytest

        from datarepo_spark.functions.multimodal import (
            audio_fingerprint_bits,
        )

        with pytest.raises(ValueError, match="n_windows"):
            audio_fingerprint_bits([1, 2, 3], n_windows=100)


class TestCrossNearDup:
    BASE = (
        "the quick brown fox jumps over the lazy dog while the cat "
        "watches from the warm windowsill nearby every single morning"
    )

    def test_flags_paraphrase_twins_only(self, spark):
        from datarepo_spark.functions.dedup import (
            decontaminate_near_dup,
            minhash_lsh_cross_pairs,
            unpersist_intermediates,
        )

        train = spark.createDataFrame(
            [
                (100, self.BASE.replace("lazy", "sleepy")),  # twin of 0
                (101, "entirely novel training document about query "
                      "optimizers and cost models in distributed engines"),
                (102, self.BASE),                            # exact copy
            ],
            ["doc_id", "text"],
        )
        eval_df = spark.createDataFrame(
            [(0, self.BASE),
             (1, "unrelated benchmark question about chemistry")],
            ["doc_id", "text"],
        )
        pairs = {
            (r.left_id, r.right_id)
            for r in minhash_lsh_cross_pairs(
                train, eval_df, threshold=0.5
            ).collect()
        }
        assert (102, 0) in pairs and (100, 0) in pairs
        assert all(lid != 101 for lid, _ in pairs)
        survivors = {
            r.doc_id
            for r in decontaminate_near_dup(
                train, eval_df, threshold=0.5
            ).collect()
        }
        assert survivors == {101}
        unpersist_intermediates()

    def test_no_cross_join_and_eval_broadcasts(self, spark):
        from datarepo_spark.functions.dedup import (
            minhash_lsh_cross_pairs,
            unpersist_intermediates,
        )

        train = spark.createDataFrame(
            [(i, f"training text number {i} about topic {i % 5}")
             for i in range(30)],
            ["doc_id", "text"],
        )
        eval_df = spark.createDataFrame(
            [(1000, "evaluation item zero"), (1001, "evaluation one")],
            ["doc_id", "text"],
        )
        plan = (
            minhash_lsh_cross_pairs(train, eval_df)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        assert "BroadcastHashJoin [band" in plan  # eval bucket map
        unpersist_intermediates()


class TestBoilerplateAndNovelty:
    def test_boilerplate_flags_shared_template(self, spark):
        from datarepo_spark.functions.text import boilerplate_fraction
        from datarepo_spark.functions.dedup import unpersist_intermediates

        header = "subscribe to our newsletter for updates today"
        rows = [
            (i, header + f" article body number {i} unique content {i*7}")
            for i in range(20)
        ] + [(100, "wholly original essay with none of that chrome")]
        df = spark.createDataFrame(rows, ["doc_id", "text"])
        got = {
            r.doc_id: r
            for r in boilerplate_fraction(df, min_doc_fraction=0.5).collect()
        }
        assert got[0].boilerplate_grams >= 4  # the header's grams
        assert got[0].boilerplate_frac > 0.3
        assert got[100].boilerplate_grams == 0
        assert got[100].boilerplate_frac == 0.0
        unpersist_intermediates()

    def test_novelty_credits_first_occurrence(self, spark):
        from datarepo_spark.functions.text import novelty_score
        from datarepo_spark.functions.dedup import unpersist_intermediates

        a = "alpha beta gamma delta epsilon zeta eta theta"
        rows = [
            (0, a),                       # owns all its grams
            (1, a),                       # exact copy: zero novelty
            (2, a + " iota kappa lambda"),  # only the tail is new
            (3, "completely different words everywhere here now"),
        ]
        df = spark.createDataFrame(rows, ["doc_id", "text"])
        got = {r.doc_id: r for r in novelty_score(df).collect()}
        assert got[0].novelty == 1.0
        assert got[1].novelty == 0.0
        assert 0.0 < got[2].novelty < 1.0
        assert got[3].novelty == 1.0
        unpersist_intermediates()


class TestGramSetScoresFusion:
    def test_fused_matches_standalone_scorers(self, spark):
        """gram_set_scores must reproduce boilerplate_fraction and
        novelty_score exactly — it is the same arithmetic over a fused
        plan (one gram agg, one join-back, one doc agg)."""
        from datarepo_spark.functions.dedup import unpersist_intermediates
        from datarepo_spark.functions.text import (
            boilerplate_fraction,
            gram_set_scores,
            novelty_score,
        )

        docs = spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet"
        )
        fused = {
            r["doc_id"]: (
                r["n_grams"], r["boilerplate_grams"],
                r["boilerplate_frac"], r["novel_grams"], r["novelty"],
            )
            for r in gram_set_scores(docs).collect()
        }
        bf = {
            r["doc_id"]: (
                r["n_grams"], r["boilerplate_grams"], r["boilerplate_frac"]
            )
            for r in boilerplate_fraction(docs).collect()
        }
        nv = {
            r["doc_id"]: (r["n_grams"], r["novel_grams"], r["novelty"])
            for r in novelty_score(docs).collect()
        }
        assert set(fused) == set(bf) == set(nv)
        for d, (ng, bg, bfr, ngr, nvy) in fused.items():
            assert (ng, bg, bfr) == bf[d], d
            assert (ng, ngr, nvy) == nv[d], d
        unpersist_intermediates()


class TestContainmentPairs:
    def test_doc_in_doc_flags_where_jaccard_cannot(self, spark):
        """A paragraph quoted inside a much longer page: containment is
        ~1.0 while Jaccard is small — the asymmetric signal the
        operator exists for."""
        from datarepo_spark.functions.dedup import (
            containment_pairs,
            unpersist_intermediates,
        )

        para = " ".join(f"tok{i}" for i in range(30))
        page = para + " " + " ".join(f"pad{i}" for i in range(400))
        other = " ".join(f"zzz{i}" for i in range(30))
        df = spark.createDataFrame(
            [(1, para), (2, page), (3, other)], ["doc_id", "text"]
        )
        pairs = {
            (r["id_a"], r["id_b"]): r["containment"]
            for r in containment_pairs(
                df, "text", "doc_id", threshold=0.5
            ).collect()
        }
        assert (1, 2) in pairs and pairs[(1, 2)] >= 0.9
        assert not any(3 in p for p in pairs)
        # the same pair under Jaccard sits far below the threshold
        from datarepo_spark.functions.dedup import jaccard, shingles
        from pyspark.sql import functions as F

        j = (
            df.filter("doc_id = 1")
            .select(shingles(F.col("text"), 3).alias("a"))
            .crossJoin(
                df.filter("doc_id = 2")
                .select(shingles(F.col("text"), 3).alias("b"))
            )
            .select(jaccard(F.col("a"), F.col("b")).alias("j"))
            .head()["j"]
        )
        assert j < 0.2
        unpersist_intermediates()


class TestAsofNearest:
    """Nearest as-of: closest right row in either time direction, exact
    integer distance, ties prefer backward (pandas merge_asof)."""

    def _run(self, spark, left_rows, right_rows):
        from datarepo_spark.operators.asof import asof_join

        left = spark.createDataFrame(left_rows, "k long, lts long, lid long")
        right = spark.createDataFrame(right_rows, "k long, rts long")
        out = asof_join(
            left, right,
            left_on="lts", right_on="rts", left_by="k", right_by="k",
            payload=F.col("rts"), payload_name="m", direction="nearest",
        )
        return {r.lid: r.m for r in out.collect()}

    def test_picks_closer_side(self, spark):
        got = self._run(
            spark,
            [(1, 10, 0), (1, 24, 1)],
            [(1, 5), (1, 20)],
        )
        # lid 0: |10-5|=5 < |20-10|=10 -> 5; lid 1: |24-20|=4 -> 20
        assert got == {0: 5, 1: 20}

    def test_tie_prefers_backward(self, spark):
        got = self._run(spark, [(1, 10, 0)], [(1, 5), (1, 15)])
        assert got == {0: 5}

    def test_exact_match_wins(self, spark):
        got = self._run(spark, [(1, 10, 0)], [(1, 10), (1, 11)])
        assert got == {0: 10}

    def test_one_sided_and_missing_key(self, spark):
        got = self._run(
            spark,
            [(1, 10, 0), (2, 10, 1), (3, 10, 2)],
            [(1, 99), (2, 1)],  # only-forward, only-backward, no rows
        )
        assert got == {0: 99, 1: 1, 2: None}

    @pytest.mark.parametrize(
        "direction", ["backward", "forward", "nearest"]
    )
    def test_matches_pandas_merge_asof(self, spark, direction):
        import pandas as pd

        from datarepo_spark.operators.asof import asof_join

        rng = np.random.RandomState(7)
        left_rows = [
            (int(k), int(t), i)
            for i, (k, t) in enumerate(
                zip(rng.randint(0, 5, 200), rng.randint(0, 1000, 200))
            )
        ]
        right_rows = list(
            {
                (int(k), int(t))
                for k, t in zip(
                    rng.randint(0, 5, 300), rng.randint(0, 1000, 300)
                )
            }
        )
        left = spark.createDataFrame(
            left_rows, "k long, lts long, lid long"
        )
        right = spark.createDataFrame(right_rows, "k long, rts long")
        got = {
            r.lid: r.m
            for r in asof_join(
                left, right, left_on="lts", right_on="rts",
                left_by="k", right_by="k", payload=F.col("rts"),
                payload_name="m", direction=direction,
            ).collect()
        }
        lp = pd.DataFrame(left_rows, columns=["k", "lts", "lid"]).sort_values(
            "lts", kind="mergesort"
        )
        rp = pd.DataFrame(right_rows, columns=["k", "rts"]).sort_values(
            "rts", kind="mergesort"
        )
        merged = pd.merge_asof(
            lp, rp, left_on="lts", right_on="rts", by="k",
            direction=direction,
        )
        for _, row in merged.iterrows():
            want = None if pd.isna(row["rts"]) else int(row["rts"])
            assert got[row["lid"]] == want, (direction, row["lid"])


class TestPhash:
    """Fixed-point DCT perceptual hash: exact int64 transform, so a
    numpy brute force is the bit-level oracle; banded hamming pair
    generation must equal the brute-force pair filter."""

    def _media(self, spark, docs_df):
        twins = docs_df.select(
            (F.col("doc_id") + 1000).alias("doc_id"),
            F.concat(F.lit("~~"), F.expr("substring(text, 3)")).alias(
                "text"
            ),
        )
        return M.documents_as_ppm(docs_df.unionByName(twins))

    def _brute_bits(self, media_rows):
        return {
            r.media_id: M.phash_bits(bytes(r.content))
            for r in media_rows
        }

    def test_bits_match_brute_force(self, spark, docs_df):
        media = self._media(spark, docs_df)
        want = self._brute_bits(media.collect())
        got = {
            r.media_id: [int(ch) for ch in r.phash]
            for r in M.phash_hashes(media).collect()
        }
        assert got == want

    def test_banded_pairs_equal_brute_force(self, spark, docs_df):
        media = self._media(spark, docs_df)
        bits = self._brute_bits(media.collect())
        ids = sorted(bits)
        want = set()
        for i, a in enumerate(ids):
            for b in ids[i + 1:]:
                ham = sum(x != y for x, y in zip(bits[a], bits[b]))
                if ham <= 3:
                    want.add((a, b, ham))
        got = {
            (r.id_a, r.id_b, r.hamming)
            for r in M.phash_near_dup_pairs(media, max_hamming=3).collect()
        }
        assert got == want
        # the construction guarantees work: every twin pair found, and
        # at least the exact-dup doc pair (0, 3) from DOCS
        assert any(a + 1000 == b for a, b, _ in got)

    def test_brightness_shift_keeps_phash_stable(self):
        """The DCT hash thresholds AC coefficients — a global luma
        shift moves only the DC term, so the hash is unchanged, while
        aHash (mean threshold on raw luma) has no such guarantee."""
        import numpy as np

        rng = np.random.RandomState(3)
        base = rng.randint(0, 200, size=(8, 8, 3)).astype(np.uint8)

        def ppm(px):
            return b"P6\n8 8\n255\n" + px.tobytes()

        shifted = np.clip(base.astype(int) + 30, 0, 255).astype(np.uint8)
        b0 = M.phash_bits(ppm(base))
        b1 = M.phash_bits(ppm(shifted))
        # luma uses integer //3 so a uniform +30 shift perturbs cells by
        # at most one quantization step: hamming stays tiny
        assert sum(x != y for x, y in zip(b0, b1)) <= 2


class TestSpreadInput:
    """spread_input (r13): the degenerate-scan repartition must fire
    only below min(4, defaultParallelism) partitions, raise the
    frame to cluster parallelism, and never change the row multiset."""

    def test_fires_on_single_partition_and_preserves_rows(self, spark):
        from datarepo_spark.core.exec import spread_input

        df = spark.createDataFrame(
            [(i, f"doc {i}") for i in range(50)], ["doc_id", "text"]
        ).coalesce(1)
        assert df.rdd.getNumPartitions() == 1
        out = spread_input(df, "doc_id")
        par = spark.sparkContext.defaultParallelism
        assert out.rdd.getNumPartitions() == max(par, 1)
        assert sorted(r.doc_id for r in out.collect()) == list(range(50))

    def test_noop_on_parallel_input(self, spark):
        from datarepo_spark.core.exec import spread_input

        df = spark.range(100).withColumnRenamed("id", "doc_id")
        df = df.repartition(4, "doc_id")
        assert spread_input(df, "doc_id") is df

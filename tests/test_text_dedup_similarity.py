"""Tests for the training-data pipeline operators (text analysis, dedup,
similarity search) on the driver's documents/embeddings tables."""

import os

import numpy as np
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from geococo_spark.operators import dedup, similarity, text

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet").cache()


@pytest.fixture(scope="module")
def embs(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet").cache()


class TestText:
    def test_token_stats(self, spark):
        df = spark.createDataFrame([Row(doc_id=1, text="a b b c")])
        r = text.with_token_stats(df).first()
        assert r.n_tokens == 4 and r.n_distinct_tokens == 3 and r.n_chars_m == 7

    def test_quality_counts(self, spark):
        df = spark.createDataFrame([Row(doc_id=1, text="the cat, and the dog.")])
        r = text.with_quality(df).first()
        assert r.n_punct == 2
        assert r.n_stopwords == 3  # the, and, the
        assert r.n_tokens == 5

    def test_lang_id(self, spark):
        df = spark.createDataFrame(
            [
                Row(doc_id=1, text="the cat and the dog in the house is it"),
                Row(doc_id=2, text="zzz qqq www"),
            ]
        )
        rows = {r.doc_id: r.lang_pred for r in text.with_lang_id(df).collect()}
        assert rows == {1: "en", 2: "unk"}

    def test_bpe_token_estimate(self, spark):
        df = spark.createDataFrame(
            [Row(doc_id=1, text="hello world2024, don't!")]
        )
        r = text.with_bpe_token_estimate(df).first()
        # pieces: hello|world|2024|,|don|'|t|!  -> 8
        assert r.n_pieces == 8
        # hello(2) world(2) 2024(2) ,(1) don(1) '(1) t(1) !(1) -> 11
        assert r.n_bpe_tokens == 11
        empty = text.with_bpe_token_estimate(
            spark.createDataFrame([Row(doc_id=2, text="")])
        ).first()
        assert empty.n_pieces == 0 and empty.n_bpe_tokens == 0

    def test_repetition_stats(self, spark):
        # "a b a b c": 2-grams = [a b, b a, a b, b c] -> 4 total, 3 distinct
        # -> dup frac 0.25; top 2-gram "a b" covers 2 occ x 3 chars = 6 of
        # 9 chars. 3-grams = [a b a, b a b, a b c] all distinct -> 0.0
        df = spark.createDataFrame([Row(doc_id=1, text="a b a b c")])
        r = text.with_repetition_stats(df).first()
        assert r.n_2grams == 4 and r.dup_2gram_frac == 0.25
        assert r.n_3grams == 3 and r.dup_3gram_frac == 0.0
        assert r.top_2gram_chars == 6
        assert r.top_2gram_frac == round(6 / 9, 6)

    def test_repetition_stats_short_docs(self, spark):
        # fewer tokens than the gram size -> zero grams, zero fractions
        rows = [Row(doc_id=1, text="solo"), Row(doc_id=2, text=""),
                Row(doc_id=3, text="two words")]
        out = {r.doc_id: r for r in text.with_repetition_stats(
            spark.createDataFrame(rows)).collect()}
        assert out[1].n_2grams == 0 and out[1].dup_2gram_frac == 0.0
        assert out[2].n_2grams == 0 and out[2].top_2gram_chars == 0
        assert out[3].n_2grams == 1 and out[3].n_3grams == 0
        assert out[3].dup_2gram_frac == 0.0

    def test_repetition_stats_vs_reference(self, spark):
        # randomized parity vs a from-scratch Python reference (the
        # Spark side is higher-order-function expressions — this pins
        # the n-gram windowing, dup accounting, and rounding end to end)
        import random

        rnd = random.Random(20260818)
        vocab = ["a", "bb", "ccc", "dd", "e"]
        rows = [
            (i, " ".join(rnd.choice(vocab) for _ in range(rnd.randint(0, 12))))
            for i in range(40)
        ]

        def ref(text):
            toks = [t for t in text.strip().split()] if text.strip() else [""]
            out = {}
            for n in (2, 3):
                grams = [" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)]
                out[f"n_{n}grams"] = len(grams)
                out[f"dup_{n}gram_frac"] = round(
                    (len(grams) - len(set(grams))) / max(len(grams), 1), 6
                )
            g2 = [" ".join(toks[i:i + 2]) for i in range(len(toks) - 1)]
            top = max((g2.count(d) * len(d) for d in set(g2)), default=0)
            out["top_2gram_chars"] = top
            out["top_2gram_frac"] = round(top / max(len(text), 1), 6)
            return out

        got = {
            r.doc_id: r
            for r in text.with_repetition_stats(
                spark.createDataFrame(rows, "doc_id long, text string")
            ).collect()
        }
        for doc_id, t in rows:
            want = ref(t)
            for k, v in want.items():
                assert getattr(got[doc_id], k) == v, (doc_id, k, t)

    def test_fingerprint_deterministic(self, spark, docs):
        a = text.with_fingerprint(docs).select("doc_id", "fingerprint").collect()
        b = text.with_fingerprint(docs).select("doc_id", "fingerprint").collect()
        assert sorted(a) == sorted(b)
        assert all(r.fingerprint >= 0 for r in a)

    def test_runs_on_documents_table(self, docs):
        out = text.with_lang_id(docs)
        assert out.count() == docs.count()
        assert out.filter(F.col("n_tokens") <= 0).count() == 0


class TestExactDedup:
    def test_finds_planted_duplicates(self, spark):
        df = spark.createDataFrame(
            [Row(doc_id=i, text=t) for i, t in enumerate(["x y z", "q", "x y z", "x y z", "r"])]
        )
        groups = dedup.exact_duplicates(df).collect()
        assert len(groups) == 1
        g = groups[0]
        assert g.n_dups == 3 and g.canonical_id == 0 and g.dup_ids == [0, 2, 3]
        assert g.dup_ids_truncated is False

    def test_dup_ids_cap_is_visible(self, spark):
        """ADVICE r02: groups larger than max_dup_ids keep exact n_dups
        but flag the truncated id list, so delete-by-iteration callers
        can detect under-coverage."""
        df = spark.createDataFrame(
            [Row(doc_id=i, text="same text") for i in range(6)]
            + [Row(doc_id=100, text="other")]
        )
        g = dedup.exact_duplicates(df, max_dup_ids=2).collect()[0]
        assert g.n_dups == 6 and g.dup_ids == [0, 1]
        assert g.dup_ids_truncated is True


class TestJaccard:
    def test_identical_docs_jaccard_1(self, spark):
        t = "the quick brown fox jumps over the lazy dog"
        df = spark.createDataFrame([Row(doc_id=1, text=t), Row(doc_id=2, text=t)])
        rows = dedup.ngram_jaccard_pairs(df, threshold=0.9).collect()
        assert len(rows) == 1 and rows[0].jaccard == 1.0

    def test_disjoint_docs_no_pair(self, spark):
        df = spark.createDataFrame(
            [Row(doc_id=1, text="a b c d e f"), Row(doc_id=2, text="q r s t u v")]
        )
        assert dedup.ngram_jaccard_pairs(df, threshold=0.01).count() == 0

    def test_partial_overlap_value(self, spark):
        # doc1: shingles {a b c, b c d}; doc2: {a b c, b c x}
        df = spark.createDataFrame(
            [Row(doc_id=1, text="a b c d"), Row(doc_id=2, text="a b c x")]
        )
        rows = dedup.ngram_jaccard_pairs(df, threshold=0.1).collect()
        assert len(rows) == 1
        assert rows[0].jaccard == pytest.approx(1 / 3)

    def test_hot_shingle_df_cap(self, spark):
        """VERDICT r02 #2: a shingle present in EVERY doc must not drive
        the self-join quadratic. With the cap it is excluded from the
        join; pairs whose only overlap was the hot shingle disappear,
        genuinely-similar pairs survive (denominator keeps full counts)."""
        hot = "of the and"  # one shingle shared by all docs
        docs = [Row(doc_id=i, text=f"{hot} u{i} v{i} w{i} x{i}") for i in range(40)]
        # one genuinely near-duplicate pair on top
        docs += [
            Row(doc_id=100, text=f"{hot} p q r s t"),
            Row(doc_id=101, text=f"{hot} p q r s z"),
        ]
        df = spark.createDataFrame(docs)
        capped = dedup.ngram_jaccard_pairs(df, threshold=0.2, max_shingle_df=10)
        rows = capped.collect()
        # the hot-shingle-only pairs (every i<j combination) are gone
        assert {(r.id_a, r.id_b) for r in rows} == {(100, 101)}
        r = rows[0]
        # common counts only surviving shingles (4 of "p q r", "q r s",
        # "r s t/z" windows minus the divergent tail): denominator keeps
        # the FULL per-doc shingle counts (6 each incl. the hot one)
        assert r.common == 4 and r.jaccard == pytest.approx(4 / (6 + 6 - 4))
        # cap above the corpus df -> identical to the uncapped result
        uncapped = {
            tuple(r)
            for r in dedup.ngram_jaccard_pairs(
                df, threshold=0.2, max_shingle_df=None
            ).collect()
        }
        high_cap = {
            tuple(r)
            for r in dedup.ngram_jaccard_pairs(
                df, threshold=0.2, max_shingle_df=1000
            ).collect()
        }
        assert high_cap == uncapped


class TestShortDocShingles:
    def test_sub_k_token_docs_yield_empty_not_error(self, spark):
        """Regression: Spark's two-arg sequence(1, 0) counts DOWN to
        [1, 0] and the index-0/overflow element_at threw under ANSI for
        any doc shorter than k tokens (latent — testdata has none)."""
        df = spark.createDataFrame(
            [
                Row(doc_id=1, text=""),
                Row(doc_id=2, text="one"),
                Row(doc_id=3, text="one two"),
                Row(doc_id=4, text="a b c d e"),
                Row(doc_id=5, text="a b c d e"),
            ]
        )
        rows = {
            r.doc_id: r.sh
            for r in df.select(
                "doc_id", dedup.word_shingles("text", 3).alias("sh")
            ).collect()
        }
        assert rows[1] == [] and rows[2] == [] and rows[3] == []
        assert rows[4] == ["a b c", "b c d", "c d e"]
        # end-to-end through the jaccard self-join (the original crash site)
        pairs = dedup.ngram_jaccard_pairs(df, threshold=0.9).collect()
        assert [(p.id_a, p.id_b, p.jaccard) for p in pairs] == [(4, 5, 1.0)]


class TestDecontaminate:
    def _corpus_bench(self, spark):
        corpus = spark.createDataFrame(
            [
                # fully contains a bench 3-gram twice + unique tail
                Row(doc_id=1, text="alpha beta gamma delta unique tail"),
                # clean document
                Row(doc_id=2, text="nothing in common with any benchmark"),
                # shares exactly one 3-gram
                Row(doc_id=3, text="xx yy epsilon zeta eta zz"),
                # shorter than k: can never be contaminated
                Row(doc_id=4, text="alpha beta"),
                Row(doc_id=5, text=""),
            ]
        )
        bench = spark.createDataFrame(
            [
                Row(doc_id=100, text="alpha beta gamma delta"),
                Row(doc_id=101, text="epsilon zeta eta"),
            ]
        )
        return corpus, bench

    def test_matches_python_reference(self, spark):
        corpus, bench = self._corpus_bench(spark)

        def grams(t, k=3):
            toks = t.split()
            return {" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)}

        bset = set().union(*(grams(r.text) for r in bench.collect()))
        exp = {
            r.doc_id: len(grams(r.text) & bset) for r in corpus.collect()
        }
        got = {
            r.doc_id: (r.overlap_grams, r.is_contaminated)
            for r in dedup.decontaminate(corpus, bench, k=3).collect()
        }
        assert got == {d: (n, n >= 1) for d, n in exp.items()}
        assert got[1] == (2, True) and got[2] == (0, False)
        assert got[3] == (1, True) and got[4] == (0, False) and got[5] == (0, False)

    def test_min_overlaps_threshold_and_columns(self, spark):
        corpus, bench = self._corpus_bench(spark)
        out = dedup.decontaminate(corpus, bench, k=3, min_overlaps=2)
        flags = {r.doc_id: r.is_contaminated for r in out.collect()}
        assert flags == {1: True, 2: False, 3: False, 4: False, 5: False}
        # all original corpus columns survive
        assert set(out.columns) == {"doc_id", "text", "overlap_grams", "is_contaminated"}

    def test_bench_dictionary_is_broadcast(self, spark):
        corpus, bench = self._corpus_bench(spark)
        plan = (
            dedup.decontaminate(corpus, bench, k=3)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "BroadcastHashJoin" in plan


class TestMinHashLSH:
    def test_recall_vs_exact_jaccard(self, spark, docs):
        sample = docs.limit(120).cache()
        exact = {
            (r.id_a, r.id_b)
            for r in dedup.ngram_jaccard_pairs(sample, "doc_id", "text", threshold=0.6).collect()
        }
        approx = {
            (r.id_a, r.id_b)
            for r in dedup.minhash_lsh_pairs(
                sample, "doc_id", "text", threshold=0.6, num_perm=64, bands=16
            ).collect()
        }
        # LSH verification step uses exact jaccard, so no false positives
        assert approx <= exact
        if exact:
            assert len(approx) / len(exact) >= 0.8  # high recall at b=16,r=4

    def test_planted_near_dups_found(self, spark):
        base = "w0 " + " ".join(f"tok{i}" for i in range(50))
        mut = "w0 " + " ".join(f"tok{i}" if i != 25 else "XXX" for i in range(50))
        df = spark.createDataFrame(
            [Row(doc_id=1, text=base), Row(doc_id=2, text=mut), Row(doc_id=3, text="a b c")]
        )
        rows = dedup.minhash_lsh_pairs(df, threshold=0.5).collect()
        assert {(r.id_a, r.id_b) for r in rows} == {(1, 2)}

    def test_hot_bucket_cap_boilerplate(self, spark):
        """VERDICT r06 #2: a block of identical boilerplate docs shares
        ALL its band buckets — uncapped the bucket self-join emits
        O(n^2) candidate rows before the Jaccard verify. With
        max_bucket_size those buckets drop out; a genuinely-near-dup
        pair living in small buckets is still found, and a cap above
        every bucket size is a no-op."""
        base = "p0 " + " ".join(f"tok{i}" for i in range(40))
        mut = "p0 " + " ".join(f"tok{i}" if i != 20 else "XXX" for i in range(40))
        boiler = "license header " + " ".join(f"b{i}" for i in range(30))
        rows = [Row(doc_id=1, text=base), Row(doc_id=2, text=mut)]
        rows += [Row(doc_id=100 + i, text=boiler) for i in range(40)]
        df = spark.createDataFrame(rows)

        uncapped = {
            (r.id_a, r.id_b)
            for r in dedup.minhash_lsh_pairs(df, threshold=0.5).collect()
        }
        capped = {
            (r.id_a, r.id_b)
            for r in dedup.minhash_lsh_pairs(
                df, threshold=0.5, max_bucket_size=10
            ).collect()
        }
        assert (1, 2) in uncapped and len(uncapped) == 1 + 40 * 39 // 2
        assert capped == {(1, 2)}
        loose = {
            (r.id_a, r.id_b)
            for r in dedup.minhash_lsh_pairs(
                df, threshold=0.5, max_bucket_size=1000
            ).collect()
        }
        assert loose == uncapped

    def test_hot_bucket_cap_bounds_large_block(self, spark):
        """The 100 TB shape at test scale: 2000 identical docs would be
        ~2M candidate pairs uncapped (x16 bands before dedup); with the
        cap the join fan-out is bounded and the run stays fast — the
        planted pair is still the ONLY output."""
        base = "p0 " + " ".join(f"tok{i}" for i in range(40))
        mut = "p0 " + " ".join(f"tok{i}" if i != 20 else "XXX" for i in range(40))
        boiler = "license header " + " ".join(f"b{i}" for i in range(30))
        rows = [Row(doc_id=1, text=base), Row(doc_id=2, text=mut)]
        rows += [Row(doc_id=100 + i, text=boiler) for i in range(2000)]
        df = spark.createDataFrame(rows)
        got = dedup.minhash_lsh_pairs(df, threshold=0.5, max_bucket_size=16).collect()
        assert {(r.id_a, r.id_b) for r in got} == {(1, 2)}


class TestSimHash:
    def test_identical_distance_zero(self, spark):
        df = spark.createDataFrame(
            [Row(doc_id=1, text="alpha beta gamma"), Row(doc_id=2, text="alpha beta gamma")]
        )
        rows = dedup.simhash_pairs(df, max_hamming=3).collect()
        assert len(rows) == 1 and rows[0].hamming == 0

    def test_different_docs_not_paired(self, spark):
        df = spark.createDataFrame(
            [
                Row(doc_id=1, text=" ".join(f"a{i}" for i in range(30))),
                Row(doc_id=2, text=" ".join(f"b{i}" for i in range(30))),
            ]
        )
        assert dedup.simhash_pairs(df, max_hamming=3).count() == 0

    def test_hot_bucket_cap_tokenless(self, spark):
        """VERDICT r06 #2 (simhash degenerate case): token-less docs all
        get simhash 0 and land in ONE bucket per band — uncapped that is
        n^2/2 candidates from a single key. With max_bucket_size the
        zero bucket is dropped; a planted near-identical pair in small
        buckets survives, and an oversized cap is a no-op."""
        rows = [
            Row(doc_id=1, text="alpha beta gamma delta"),
            Row(doc_id=2, text="alpha beta gamma delta"),
        ]
        rows += [Row(doc_id=100 + i, text="   ") for i in range(40)]
        df = spark.createDataFrame(rows)

        uncapped = {
            (r.id_a, r.id_b) for r in dedup.simhash_pairs(df, max_hamming=3).collect()
        }
        capped = {
            (r.id_a, r.id_b)
            for r in dedup.simhash_pairs(
                df, max_hamming=3, max_bucket_size=10
            ).collect()
        }
        assert (1, 2) in uncapped and len(uncapped) == 1 + 40 * 39 // 2
        assert capped == {(1, 2)}
        loose = {
            (r.id_a, r.id_b)
            for r in dedup.simhash_pairs(
                df, max_hamming=3, max_bucket_size=1000
            ).collect()
        }
        assert loose == uncapped


class TestHammingNearDup:
    """Shared 64-bit hamming banding core (dedup.hamming_near_duplicates)
    and its image-facing wrapper (multimodal.image_near_duplicates)."""

    def _python_pairs(self, sigs, d):
        out = set()
        ids = sorted(sigs)
        for i, a in enumerate(ids):
            for b in ids[i + 1:]:
                h = bin(sigs[a] ^ sigs[b]).count("1")
                if h <= d:
                    out.add((a, b, h))
        return out

    def test_matches_python_reference_incl_negatives(self, spark):
        # signatures exercising bit 63 (negative int64) + planted twins
        rng = __import__("random").Random(7)
        sigs = {}
        for i in range(40):
            v = rng.getrandbits(64)
            sigs[i] = v - (1 << 64) if v >= (1 << 63) else v
        for i in range(0, 40, 8):  # twins at hamming 1-3
            flips = [(i * 7 + k * 13) % 64 for k in range(1 + i % 3)]
            t = sigs[i]
            for f in flips:
                t ^= 1 << f
                if t >= (1 << 63):
                    t -= 1 << 64
            sigs[100 + i] = t
        df = spark.createDataFrame(
            [(k, v) for k, v in sigs.items()], ["image_id", "phash"]
        )
        got = {
            (r.id_a, r.id_b, r.hamming)
            for r in dedup.hamming_near_duplicates(
                df, "image_id", "phash", max_hamming=3
            ).collect()
        }
        exp = self._python_pairs({k: v & ((1 << 64) - 1) for k, v in sigs.items()}, 3)
        assert got == exp and len(got) >= 5

    def test_image_wrapper_and_blank_image_cap(self, spark):
        # uniform/blank images: identical phash -> one bucket per band;
        # the cap drops the pileup, a planted crop-twin pair survives
        from geococo_spark.operators import multimodal

        rows = [(1, 12345678901234), (2, 12345678901234 ^ (1 << 17))]
        rows += [(100 + i, 0) for i in range(30)]
        df = spark.createDataFrame(rows, ["image_id", "phash"])
        capped = {
            (r.id_a, r.id_b)
            for r in multimodal.image_near_duplicates(
                df, max_hamming=3, max_bucket_size=10
            ).collect()
        }
        assert capped == {(1, 2)}
        uncapped = multimodal.image_near_duplicates(df, max_hamming=3).count()
        assert uncapped == 1 + 30 * 29 // 2

    @pytest.mark.parametrize("max_hamming", [1, 2, 4, 6])
    def test_completeness_vs_brute_force_uncovered_bits(self, spark, max_hamming):
        """Pigeonhole recall holds even when 64 % (max_hamming+1) != 0
        and the TOP bits belong to no band (nb=3 -> bits 0..62 covered,
        bit 63 bandless; nb=5 -> 60..63 bandless; nb=7 -> bit 63).
        Uncovered-bit diffs can't make bands disagree, so such pairs are
        always candidates; the exact verify must still count those bits.
        Plants pairs differing ONLY in uncovered bits, pairs spread
        adversarially one-bit-per-band, and random noise; banded output
        must equal the 64-bit brute force exactly."""
        rng = __import__("random").Random(max_hamming)
        nb = max_hamming + 1
        width = 64 // nb

        def signed(v):
            return v - (1 << 64) if v >= (1 << 63) else v

        sigs = {}
        for i in range(30):
            sigs[i] = rng.getrandbits(64)
        base = sigs[0]
        # twin differing only in the top (possibly uncovered) bits
        t = base
        for k in range(max_hamming):
            t ^= 1 << (63 - k)
        sigs[200] = t
        # twin with one differing bit in each of the first max_hamming
        # bands (exactly one band left agreeing — pigeonhole tightness)
        t2 = sigs[1]
        for b in range(max_hamming):
            t2 ^= 1 << (b * width + (b % width))
        sigs[201] = t2
        df = spark.createDataFrame(
            [(k, signed(v)) for k, v in sigs.items()], ["image_id", "phash"]
        )
        got = {
            (r.id_a, r.id_b, r.hamming)
            for r in dedup.hamming_near_duplicates(
                df, "image_id", "phash", max_hamming=max_hamming
            ).collect()
        }
        exp = self._python_pairs(sigs, max_hamming)
        assert got == exp
        assert (0, 200, max_hamming) in got and (1, 201, max_hamming) in got


class TestSimilarity:
    def test_brute_force_topk_self_excluded(self, spark, embs):
        probes = embs.limit(3).select(F.col("vec_id").alias("probe_id"), "embedding")
        out = similarity.brute_force_topk(embs, probes, k=5).collect()
        assert len(out) == 15
        by_probe = {}
        for r in out:
            assert r.vec_id != r.probe_id
            by_probe.setdefault(r.probe_id, []).append((r.rank, r.cos_sim))
        for ranks in by_probe.values():
            ranks.sort()
            sims = [s for _, s in ranks]
            assert sims == sorted(sims, reverse=True)
            assert [r for r, _ in ranks] == [1, 2, 3, 4, 5]

    def test_neardup_shuffle_hash_attach_identical(self, spark, embs):
        """Round 5: beyond the broadcast threshold the attach verify mode
        uses a shuffle-hash join (no candidate-side sort). Values must be
        identical to the broadcast path, and the plan must contain
        ShuffledHashJoin (not SortMergeJoin) for the attach."""
        kw = dict(dim=64, threshold=0.8, n_planes=8, n_tables=6, verify_mode="attach")
        bc = similarity.embedding_near_duplicates(
            embs, broadcast_vectors_rows=200_000, **kw
        )
        sh = similarity.embedding_near_duplicates(embs, broadcast_vectors_rows=0, **kw)
        assert sorted(map(tuple, bc.collect())) == sorted(map(tuple, sh.collect()))
        plan = sh._jdf.queryExecution().executedPlan().toString()
        assert "ShuffledHashJoin" in plan
        assert "SortMergeJoin" not in plan

    def test_neardup_bucket_verify_matches_attach(self, spark, embs):
        """Round 8: the default per-bucket matmul verify must produce
        exactly the rows (ids AND rounded cosines) of the round-7 attach
        path, with and without the hot-bucket cap, and its plan must not
        contain a candidate self-join (one grouped Arrow pass instead)."""
        for cap in (None, 12):
            kw = dict(
                dim=64, threshold=0.35, n_planes=6, n_tables=6, max_bucket_size=cap
            )
            bucket = similarity.embedding_near_duplicates(
                embs, verify_mode="bucket", **kw
            )
            attach = similarity.embedding_near_duplicates(
                embs, verify_mode="attach", **kw
            )
            got_b = sorted(map(tuple, bucket.collect()))
            got_a = sorted(map(tuple, attach.collect()))
            assert got_b == got_a
            if cap is None:
                assert len(got_b) > 0  # non-vacuous at this threshold
        plan = bucket._jdf.queryExecution().executedPlan().toString()
        assert "FlatMapGroupsInPandas" in plan

    def test_bucket_pair_dots_degenerate_and_margin(self):
        """Unit pin of _bucket_pair_dots_fn edge cases: zero-norm vectors
        (0/0 cosine) must SURVIVE the in-bucket filter (Spark's NaN
        ordering puts NaN above any threshold, so the JVM filter — not
        numpy — must decide them), near-threshold pairs within the margin
        must survive, and the cap drops the whole bucket."""
        import pandas as pd

        fn = similarity._bucket_pair_dots_fn(0.95, None)
        pdf = pd.DataFrame(
            {
                "vid": [1, 2, 3],
                "qv": [[0, 0], [0, 0], [1000, 0]],
            }
        )
        out = fn(pdf)
        # (1,2): 0/0 -> NaN, kept; (1,3)/(2,3): 0/0? dot=0, na=0 -> NaN too
        assert {(r.id_a, r.id_b) for r in out.itertuples()} == {(1, 2), (1, 3), (2, 3)}
        capped = similarity._bucket_pair_dots_fn(0.95, 2)(pdf)
        assert len(capped) == 0
        pdf2 = pd.DataFrame({"vid": [9, 7], "qv": [[19, 13], [19, 0]]})
        out2 = similarity._bucket_pair_dots_fn(0.0, None)(pdf2)
        assert len(out2) == 1
        r = out2.iloc[0]
        # canonical order by id VALUE regardless of row order, exact dots
        assert (r["id_a"], r["id_b"]) == (7, 9)
        assert (r["pair_dot"], r["na"], r["nb"]) == (361, 361, 530)

    def test_qdot_batch_empty_arrow_batch(self):
        """ADVICE r04: np.vstack raises on a zero-row batch; the UDF body
        must return an empty int64 series instead."""
        import pandas as pd

        out = similarity._qdot_batch.func(
            pd.Series([], dtype=object), pd.Series([], dtype=object)
        )
        assert len(out) == 0 and str(out.dtype) == "int64"
        out2 = similarity._qdot_batch.func(
            pd.Series([[1, 2], [3, 4]]), pd.Series([[5, 6], [7, 8]])
        )
        assert list(out2) == [17, 53]

    def test_lsh_finds_planted_neighbors(self, spark):
        # recall on *random* vectors is meaningless (top-k cosines ~0.3,
        # uncorrelated with buckets); plant true neighbors instead
        rng = np.random.RandomState(11)
        dim = 32
        rows = []
        for p in range(5):
            base = rng.randn(dim)
            rows.append(Row(vec_id=p * 100, embedding=[float(x) for x in base]))
            rows.append(
                Row(
                    vec_id=p * 100 + 1,
                    embedding=[float(x) for x in base + rng.randn(dim) * 0.05],
                )
            )
        for i in range(200):
            rows.append(Row(vec_id=10_000 + i, embedding=[float(x) for x in rng.randn(dim)]))
        vectors = spark.createDataFrame(rows)
        probes = vectors.filter(F.col("vec_id") % 100 == 0).filter(
            F.col("vec_id") < 10_000
        ).select(F.col("vec_id").alias("probe_id"), "embedding")
        approx = similarity.lsh_topk(
            vectors, probes, dim=dim, k=1, n_planes=8, n_tables=8
        ).collect()
        found = {(r.probe_id, r.vec_id) for r in approx if r.rank == 1}
        expected = {(p * 100, p * 100 + 1) for p in range(5)}
        assert len(found & expected) >= 4  # >=80% of planted pairs recovered

    def test_lsh_topk_banded_join_is_ids_only(self, spark):
        """VERDICT r02 #3: no embedding array may ride the xn_tables
        band explode or the candidate-dedupe exchange — embeddings
        re-attach to the deduped candidate set only."""
        rng = np.random.RandomState(5)
        rows = [Row(vec_id=i, embedding=[float(x) for x in rng.randn(16)]) for i in range(50)]
        vectors = spark.createDataFrame(rows)
        probes = vectors.limit(2).select(F.col("vec_id").alias("probe_id"), "embedding")
        out = similarity.lsh_topk(vectors, probes, dim=16, k=3, n_planes=6, n_tables=4)
        plan = out._jdf.queryExecution().optimizedPlan().toString()
        checked = 0
        for line in plan.splitlines():
            # Generate = the band posexplode; the dedupe Aggregate groups
            # on (probe_id, vec_id) — neither may project embedding
            # columns (ADVICE r03: lsh_topk uses posexplode, and the old
            # un-parenthesized condition never matched the Generate line)
            if ("Generate " in line) or ("probe_id#" in line and "Aggregate" in line):
                assert "embedding" not in line, line
                checked += 1
        assert checked >= 2  # both the explode and the dedupe lines were seen

    def test_multi_table_signatures_bit_identical(self, spark):
        """The one-Arrow-pass multi-table signature must produce exactly
        the per-table UDFs' buckets (same planes, same packing) — the
        equivalence that keeps q_embedding_neardup oracle-exact."""
        from pyspark.sql import functions as F

        rng = np.random.RandomState(9)
        rows = [Row(vec_id=i, qv=[int(x) for x in rng.randint(-1000, 1000, 16)])
                for i in range(40)]
        df = spark.createDataFrame(rows)
        planes = [similarity.int_plane_matrix(16, 6, 500 + t) for t in range(4)]
        multi = {
            (r.vec_id, r.t): r.b
            for r in df.select(
                "vec_id",
                F.posexplode(similarity.multi_table_signature_udf(planes)(F.col("qv"))).alias("t", "b"),
            ).collect()
        }
        for t, p in enumerate(planes):
            per = {
                r.vec_id: r.b
                for r in df.select(
                    "vec_id", similarity.int_hyperplane_signature_udf(p)(F.col("qv")).alias("b")
                ).collect()
            }
            assert {v: multi[(v, t)] for v in per} == per

    def test_ivf_centroids_empty_input_raises(self, spark):
        empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
        with pytest.raises(ValueError, match="empty sample"):
            similarity.train_ivf_centroids(empty, dim=8)

    def test_ivf_topk_recall_on_planted_neighbors(self, spark):
        """IVF path recovers planted near-neighbors like lsh_topk: the
        probe's cell list must contain its neighbor's cell and the exact
        re-rank must put it first."""
        rng = np.random.RandomState(21)
        dim = 32
        rows = []
        for p in range(5):
            base = rng.randn(dim)
            rows.append(Row(vec_id=p * 100, embedding=[float(x) for x in base]))
            rows.append(
                Row(vec_id=p * 100 + 1, embedding=[float(x) for x in base + rng.randn(dim) * 0.05])
            )
        for i in range(200):
            rows.append(Row(vec_id=10_000 + i, embedding=[float(x) for x in rng.randn(dim)]))
        vectors = spark.createDataFrame(rows)
        probes = vectors.filter((F.col("vec_id") % 100 == 0) & (F.col("vec_id") < 10_000)).select(
            F.col("vec_id").alias("probe_id"), "embedding"
        )
        approx = similarity.ivf_topk(
            vectors, probes, dim=dim, k=1, n_centroids=8, n_probe=3
        ).collect()
        found = {(r.probe_id, r.vec_id) for r in approx if r.rank == 1}
        expected = {(p * 100, p * 100 + 1) for p in range(5)}
        assert len(found & expected) >= 4  # >=80% of planted pairs recovered

    def test_ivf_deterministic_and_self_excluded(self, spark, embs):
        probes = embs.limit(3).select(F.col("vec_id").alias("probe_id"), "embedding")
        a = similarity.ivf_topk(embs, probes, dim=64, k=5, n_centroids=8, n_probe=8)
        rows1 = sorted(map(tuple, a.collect()))
        rows2 = sorted(map(tuple, similarity.ivf_topk(
            embs, probes, dim=64, k=5, n_centroids=8, n_probe=8
        ).collect()))
        assert rows1 == rows2  # seeded k-means -> reproducible
        assert all(r[0] != r[1] for r in rows1)  # no self matches
        # n_probe == n_centroids searches everything -> exact result
        exact = sorted(map(tuple, similarity.brute_force_topk(embs, probes, k=5).collect()))
        assert rows1 == exact

    def test_embedding_near_duplicates_planted(self, spark):
        rng = np.random.RandomState(3)
        v = rng.randn(16).astype(float)
        v2 = v + rng.randn(16) * 0.01
        w = rng.randn(16).astype(float)
        df = spark.createDataFrame(
            [
                Row(vec_id=1, embedding=[float(x) for x in v]),
                Row(vec_id=2, embedding=[float(x) for x in v2]),
                Row(vec_id=3, embedding=[float(x) for x in w]),
            ]
        )
        rows = similarity.embedding_near_duplicates(df, dim=16, threshold=0.95).collect()
        assert {(r.id_a, r.id_b) for r in rows} == {(1, 2)}

    def test_embedding_neardup_hot_bucket_cap(self, spark):
        """Round-4 scale guard (hyperplane analog of ngram's hot-shingle
        df cap): an adversarial block of IDENTICAL embeddings shares all
        its buckets in every table — uncapped it contributes O(n^2)
        candidate pairs; with max_bucket_size those buckets drop out of
        candidate generation while pairs living in small buckets are
        still found. A cap larger than every bucket changes nothing."""
        rng = np.random.RandomState(11)
        v = rng.randn(16)
        v2 = v + rng.randn(16) * 0.01
        hot = [float(x) for x in rng.randn(16)]
        rows = [
            Row(vec_id=1, embedding=[float(x) for x in v]),
            Row(vec_id=2, embedding=[float(x) for x in v2]),
        ]
        # 40 identical vectors: every (t, b) they occupy has >= 40 members
        rows += [Row(vec_id=100 + i, embedding=hot) for i in range(40)]
        df = spark.createDataFrame(rows)

        uncapped = similarity.embedding_near_duplicates(df, dim=16, threshold=0.95)
        capped = similarity.embedding_near_duplicates(
            df, dim=16, threshold=0.95, max_bucket_size=10
        )
        got_uncapped = {(r.id_a, r.id_b) for r in uncapped.collect()}
        got_capped = {(r.id_a, r.id_b) for r in capped.collect()}
        # uncapped: the identical block yields 40*39/2 pairs + the planted one
        assert (1, 2) in got_uncapped and len(got_uncapped) == 1 + 40 * 39 // 2
        # capped: hot buckets dropped -> only the planted small-bucket pair
        assert got_capped == {(1, 2)}
        # a cap above the largest bucket is a no-op
        loose = similarity.embedding_near_duplicates(
            df, dim=16, threshold=0.95, max_bucket_size=1000
        )
        assert {(r.id_a, r.id_b) for r in loose.collect()} == got_uncapped

    def test_embedding_neardup_cap_oracle_parity(self, spark):
        """The capped candidate set must stay DuckDB-reproducible: run
        the capped operator and its generated oracle SQL on the same
        parquet and compare exactly (the q_embedding_neardup entry keeps
        the cap off; this pins the capped variant's oracle)."""
        import duckdb

        import __spark_entry__ as entry_mod

        sf = "/root/testdata/sf0.01"
        embs = spark.read.parquet(f"{sf}/embeddings.parquet")
        got = sorted(
            map(
                tuple,
                similarity.embedding_near_duplicates(
                    embs, dim=64, threshold=0.42, n_planes=6, n_tables=10,
                    max_bucket_size=20,
                ).collect(),
            )
        )
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{sf}/embeddings.parquet')"
        )
        sql = entry_mod._embedding_neardup_oracle_sql(
            dim=64, threshold=0.42, n_planes=6, n_tables=10, max_bucket_size=20
        )
        want = sorted(map(tuple, con.execute(sql).fetchall()))
        assert got == want and len(got) > 0


class TestDuplicateClusters:
    def _reference_cc(self, edges):
        """Driver-side union-find oracle."""
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
        return {v: find(v) for v in parent}

    def test_matches_union_find(self, spark):
        # chains, a triangle, an isolated pair, and a star — incl. a
        # chain whose diameter forces several propagation rounds
        edges = [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6),
                 (10, 11), (11, 12), (10, 12),
                 (20, 21),
                 (30, 31), (30, 32), (30, 33), (30, 34)]
        pairs = spark.createDataFrame(edges, "id_a long, id_b long")
        got = {
            r["doc_id"]: r["cluster_id"]
            for r in dedup.duplicate_clusters(pairs).collect()
        }
        want = self._reference_cc(edges)
        assert got == want
        # canonical ids are the component minimum
        assert got[6] == 1 and got[12] == 10 and got[34] == 30

    def test_empty_pairs(self, spark):
        pairs = spark.createDataFrame([], "id_a long, id_b long")
        assert dedup.duplicate_clusters(pairs).count() == 0

    def test_steps_per_round_fixpoint_equivalence(self, spark):
        # fused multi-step rounds are fixpoint-neutral: 1-, 2- and
        # 3-step rounds must all produce the union-find labeling
        # (round 7 measured fusion slower, so 1 is the
        # default — the knob stays correct either way)
        import random

        rng = random.Random(77)
        edges = [(i, i + 1) for i in range(15)] + [
            (rng.randrange(100, 160), rng.randrange(100, 160)) for _ in range(40)
        ]
        edges = [(a, b) for a, b in edges if a != b]
        pairs = spark.createDataFrame(edges, "id_a long, id_b long")
        want = self._reference_cc(edges)
        for steps in (1, 2, 3):
            got = {
                r["doc_id"]: r["cluster_id"]
                for r in dedup.duplicate_clusters(
                    pairs, steps_per_round=steps
                ).collect()
            }
            assert got == want, f"steps_per_round={steps} diverged"

    def test_pointer_jump_beats_diameter(self, spark):
        # a 40-edge chain: plain min-label needs ~diameter rounds, so it
        # must raise at max_iters=12 with jumping disabled but converge
        # (to the same union-find labeling) with the default escalation
        edges = [(i, i + 1) for i in range(40)]
        pairs = spark.createDataFrame(edges, "id_a long, id_b long")
        with pytest.raises(RuntimeError, match="not converged"):
            dedup.duplicate_clusters(pairs, max_iters=12, jump_after=None)
        got = {
            r["doc_id"]: r["cluster_id"]
            for r in dedup.duplicate_clusters(pairs, max_iters=12).collect()
        }
        assert got == self._reference_cc(edges)

    def test_not_converged_raises(self, spark):
        pairs = spark.createDataFrame([(i, i + 1) for i in range(8)], "id_a long, id_b long")
        with pytest.raises(RuntimeError, match="not converged"):
            dedup.duplicate_clusters(pairs, max_iters=2)

    def test_durable_checkpoint_path(self, spark, tmp_path):
        # VERDICT r06 #3: with checkpoint_dir the per-round lineage cut
        # is a reliable parquet round-trip (recomputable after executor
        # loss), not localCheckpoint. Same fixpoint as the default path,
        # through enough rounds to exercise the alternating slots AND
        # the pointer-jump escalation; the round parquet must exist.
        edges = [(i, i + 1) for i in range(24)] + [(100, 101), (101, 102)]
        pairs = spark.createDataFrame(edges, "id_a long, id_b long")
        ckdir = str(tmp_path / "cc_ck")
        got = {
            r["doc_id"]: r["cluster_id"]
            for r in dedup.duplicate_clusters(
                pairs, max_iters=12, checkpoint_dir=ckdir
            ).collect()
        }
        assert got == self._reference_cc(edges)
        import os

        assert os.path.exists(os.path.join(ckdir, "cc_edges"))
        assert os.path.exists(os.path.join(ckdir, "cc_round_0"))
        assert os.path.exists(os.path.join(ckdir, "cc_round_1"))

    def test_durable_checkpoint_lost_round_fails_loudly(self, spark, tmp_path, monkeypatch):
        # VERDICT r07 #7: fault injection for the durable CC path. If the
        # parquet slot of the LAST materialized round disappears mid-loop
        # (lost scratch storage), the next round's job must fail LOUDLY —
        # never return a silently half-propagated labeling. Injection:
        # wrap materialize so the round-0 slot is deleted right after it
        # is written; round 1 consumes it and must blow up.
        import shutil

        from geococo_spark import checkpoint as _ck

        real_materialize = _ck.materialize

        def lossy_materialize(df, checkpoint_dir=None, name="step"):
            out = real_materialize(df, checkpoint_dir, name)
            if name == "cc_round_0" and checkpoint_dir is not None:
                shutil.rmtree(os.path.join(checkpoint_dir, name))
            return out

        monkeypatch.setattr("geococo_spark.operators.dedup.materialize", lossy_materialize)
        # a 12-chain needs several propagation rounds, so round 1 always runs
        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(12)], "id_a long, id_b long"
        )
        with pytest.raises(Exception) as ei:
            dedup.duplicate_clusters(
                pairs, max_iters=20, checkpoint_dir=str(tmp_path / "cc_ck")
            ).collect()
        # loud and attributable: the error names the missing files/slot,
        # not a wrong answer and not a generic convergence failure
        msg = str(ei.value)
        assert "not converged" not in msg
        assert any(s in msg for s in ("cc_round_0", "FileNotFound", "does not exist", "REFRESH"))

    def test_durable_checkpoint_stale_round_loss_is_harmless(self, spark, tmp_path, monkeypatch):
        # the companion property: losing an already-CONSUMED round slot
        # (the loop alternates two slots; round k only ever reads round
        # k-1's output) must not affect the result — the fixpoint is
        # identical to the undamaged run.
        import shutil

        from geococo_spark import checkpoint as _ck

        real_materialize = _ck.materialize

        def lossy_materialize(df, checkpoint_dir=None, name="step"):
            if name == "cc_round_1" and checkpoint_dir is not None:
                # round 1 is about to overwrite slot 1; slot 0 (just
                # consumed by this round's plan... but the plan has
                # ALREADY run by the time this returns) — delete slot 0
                # AFTER round 1's job completes instead
                out = real_materialize(df, checkpoint_dir, name)
                stale = os.path.join(checkpoint_dir, "cc_round_0")
                if os.path.exists(stale):
                    shutil.rmtree(stale)
                return out
            return real_materialize(df, checkpoint_dir, name)

        monkeypatch.setattr("geococo_spark.operators.dedup.materialize", lossy_materialize)
        edges = [(i, i + 1) for i in range(6)] + [(100, 101)]
        pairs = spark.createDataFrame(edges, "id_a long, id_b long")
        got = {
            r["doc_id"]: r["cluster_id"]
            for r in dedup.duplicate_clusters(
                pairs, max_iters=20, checkpoint_dir=str(tmp_path / "cc_ck2")
            ).collect()
        }
        assert got == self._reference_cc(edges)

    def test_end_to_end_minhash_clusters(self, docs):
        # the production shape: minhash pairs -> transitive clusters;
        # every clustered doc's cluster head is a real doc id and the
        # labeling is idempotent under re-clustering
        pairs = dedup.minhash_lsh_pairs(docs, "doc_id", "text", threshold=0.5, portable=True)
        edges = [(r["id_a"], r["id_b"]) for r in pairs.collect()]
        got = {
            r["doc_id"]: r["cluster_id"]
            for r in dedup.duplicate_clusters(pairs).collect()
        }
        assert got == self._reference_cc(edges)

    def test_deduplicate_corpus(self, spark):
        # clusters {1,2,3} and {10,11}; 5 and 7 unclustered
        docs = spark.createDataFrame(
            [(i, f"text {i}") for i in (1, 2, 3, 5, 7, 10, 11)],
            "doc_id long, text string",
        )
        clusters = spark.createDataFrame(
            [(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)],
            "doc_id long, cluster_id long",
        )
        rows = {r.doc_id: r for r in dedup.deduplicate_corpus(docs, clusters).collect()}
        assert sorted(rows) == [1, 5, 7, 10]  # one per cluster + singletons
        assert rows[1].is_canonical and rows[10].is_canonical
        assert not rows[5].is_canonical and not rows[7].is_canonical
        assert rows[5].text == "text 5"  # corpus columns ride through


class TestSpanDedup:
    """dedup.dedup_spans — corpus-level exact k-token span dedup."""

    @staticmethod
    def _py_reference(rows, k, min_count=2):
        """Independent per-chunk reference: chunk, count corpus-wide,
        keep non-dups + the canonical (min doc_id, chunk_idx) occurrence."""
        chunks = []  # (doc_id, idx, chunk)
        for doc_id, txt in rows:
            toks = (txt or "").split()
            toks = toks if toks else [""]
            for i in range(0, len(toks), k):
                chunks.append((doc_id, i // k, " ".join(toks[i : i + k])))
        from collections import defaultdict

        occ = defaultdict(list)
        for doc_id, idx, c in chunks:
            occ[c].append((doc_id, idx))
        first = {c: min(o) for c, o in occ.items()}
        out = {}
        for doc_id, idx, c in sorted(chunks):
            kept = len(occ[c]) < min_count or first[c] == (doc_id, idx)
            t, n, r = out.get(doc_id, ([], 0, 0))
            out[doc_id] = (t + [c] if kept else t, n + 1, r + (0 if kept else 1))
        return {
            d: (" ".join(t), n, r) for d, (t, n, r) in out.items()
        }

    def _run(self, spark, rows, k, **kw):
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {
            r["doc_id"]: (r["clean_text"], r["n_chunks"], r["n_chunks_removed"])
            for r in dedup.dedup_spans(df, k=k, **kw).collect()
        }
        assert got == self._py_reference(rows, k, kw.get("min_count", 2))
        return got

    def test_planted_boilerplate_removed_once(self, spark):
        boiler = "subscribe to our newsletter now"
        rows = [
            (1, f"{boiler} unique alpha text one two three four five"),
            (2, f"{boiler} different beta body six seven eight nine ten"),
            (3, "no boilerplate here at all just words eleven twelve"),
        ]
        got = self._run(spark, rows, k=5)
        # doc 1 keeps the canonical occurrence; doc 2 loses it
        assert boiler in got[1][0] and boiler not in got[2][0]
        assert got[2][2] == 1 and got[3][2] == 0

    def test_fully_duplicate_doc_empties(self, spark):
        rows = [(1, "a b c d e f"), (2, "a b c d e f")]
        got = self._run(spark, rows, k=3)
        assert got[1] == ("a b c d e f", 2, 0)
        assert got[2] == ("", 2, 2)

    def test_short_tail_chunk_and_null_text(self, spark):
        rows = [(1, "one two three four five"), (2, None), (3, None)]
        got = self._run(spark, rows, k=3)
        # tail chunk shorter than k survives; NULL text behaves as ''
        assert got[1] == ("one two three four five", 2, 0)
        assert got[2][0] == "" and got[3] == ("", 1, 1)

    def test_min_count_threshold(self, spark):
        rows = [(i, "shared span here plus unique" + str(i)) for i in range(3)]
        # with min_count=4 the 3-fold span is NOT a duplicate
        got = self._run(spark, rows, k=3, min_count=4)
        assert all(r == 0 for _, _, r in got.values())
        got = self._run(spark, rows, k=3, min_count=2)
        assert got[1][2] == 1 and got[2][2] == 1 and got[0][2] == 0

    def test_random_corpus_matches_reference(self, spark):
        import random

        rng = random.Random(7)
        vocab = [f"w{i}" for i in range(12)]
        rows = [
            (d, " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 40))))
            for d in range(60)
        ]
        self._run(spark, rows, k=4)


class TestPartitionInvariance:
    """Content-addressed operators must be layout-blind: the same corpus
    split 1 way vs 13 ways (and in scrambled row order) must produce
    IDENTICAL results — any drift means a partition-dependent hash,
    sample, or window snuck into the plan. This is the property that
    lets the 100 TB job survive AQE coalescing, speculative retries,
    and input re-bucketing without changing its answer."""

    def _docs(self, spark):
        return spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
            "doc_id", "text"
        )

    def _layouts(self, df):
        return [
            df.coalesce(1),
            df.repartition(13),
            df.orderBy(F.reverse(F.col("text").cast("string"))).repartition(7),
        ]

    @staticmethod
    def _snap(df):
        cols = sorted(df.columns)
        return sorted(tuple(r) for r in df.select(*cols).collect())

    def test_minhash_pairs_partition_invariant(self, spark):
        base = None
        for layout in self._layouts(self._docs(spark)):
            got = self._snap(
                dedup.minhash_lsh_pairs(layout, k=3, threshold=0.4,
                                        max_bucket_size=64)
            )
            base = got if base is None else base
            assert got == base

    def test_simhash_pairs_partition_invariant(self, spark):
        base = None
        for layout in self._layouts(self._docs(spark)):
            got = self._snap(
                dedup.simhash_pairs(layout, max_hamming=6, max_bucket_size=64)
            )
            base = got if base is None else base
            assert got == base

    def test_python_md5_hashing_matches_jvm(self, spark):
        """Round 8: shingle/token hashing moved from interpreted JVM
        conv(substr(md5)) lambdas into hashlib inside the signature UDFs
        — the integers (and therefore every signature, bucket, and
        oracle row) must be bit-identical to the SQL formulation."""
        docs = self._docs(spark).limit(200)
        # 60-bit slice 1 and slice 2 of every distinct token, JVM-side
        xs1, xs2 = dedup.tokens_md5_bits("text")
        toks = dedup._distinct_tokens("text")
        rows = docs.select(
            toks.alias("t"), xs1.alias("x1"), xs2.alias("x2")
        ).collect()
        mask60 = (1 << 60) - 1
        import hashlib as _h

        for r in rows:
            for tok, v1, v2 in zip(r["t"], r["x1"], r["x2"]):
                d = _h.md5(tok.encode("utf-8")).digest()
                assert dedup.md5_60(tok) == v1
                assert (int.from_bytes(d[7:15], "big") & mask60) == v2
        # full signatures: python-hashed vs JVM-hashed minhash inputs
        jvm_hashed = F.transform(
            toks, lambda s: dedup.portable_hash60(s) % dedup.M31
        )
        sig_jvm = docs.select(
            dedup.minhash_signature_udf(16, 1)(jvm_hashed).alias("sig")
        ).collect()
        sig_py = docs.select(
            dedup.minhash_signature_udf(16, 1, hasher="portable60_m31")(toks).alias("sig")
        ).collect()
        assert [r["sig"] for r in sig_jvm] == [r["sig"] for r in sig_py]
        # simhash: combined python UDF vs the two-column conv/substr form
        sh_old = docs.select(dedup.simhash_udf()(xs1, xs2).alias("s")).collect()
        sh_new = docs.select(dedup.simhash_text_udf()(toks).alias("s")).collect()
        assert [r["s"] for r in sh_old] == [r["s"] for r in sh_new]

    def test_span_dedup_partition_invariant(self, spark):
        base = None
        for layout in self._layouts(self._docs(spark)):
            got = self._snap(dedup.dedup_spans(layout, k=8))
            base = got if base is None else base
            assert got == base

    def test_cluster_labels_partition_invariant(self, spark):
        edges = [(i, i + 1) for i in range(0, 40, 2)] + [(1, 2), (30, 33)]
        df = spark.createDataFrame(edges, "id_a int, id_b int")
        base = None
        for layout in [df.coalesce(1), df.repartition(11)]:
            got = self._snap(dedup.duplicate_clusters(layout))
            base = got if base is None else base
            assert got == base


class TestVocabStats:
    ROWS = [
        (1, "The cat sat on the mat"),
        (2, "the dog ATE the cat food"),
        (3, "  "),
        (4, None),
        (5, "mat mat mat"),
    ]

    def _df(self, spark):
        return spark.createDataFrame(self.ROWS, "doc_id int, text string")

    def _reference(self):
        from collections import Counter

        tf, dfc = Counter(), Counter()
        for _, t in self.ROWS:
            toks = [w for w in (t or "").lower().split() if w]
            tf.update(toks)
            dfc.update(set(toks))
        return {w: (tf[w], dfc[w]) for w in tf}

    def test_matches_python_reference(self, spark):
        got = {
            r.term: (r.term_freq, r.doc_freq)
            for r in text.vocab_stats(self._df(spark), top_k=None).collect()
        }
        assert got == self._reference()

    def test_topk_cut_is_deterministic_and_total_ordered(self, spark):
        ref = self._reference()
        want = sorted(ref.items(), key=lambda kv: (-kv[1][1], -kv[1][0], kv[0]))
        for k in (1, 3, len(ref)):
            got = [
                (r.term, (r.term_freq, r.doc_freq))
                for r in text.vocab_stats(self._df(spark), top_k=k).collect()
            ]
            assert got == want[:k]

    def test_min_doc_freq(self, spark):
        got = {
            r.term
            for r in text.vocab_stats(
                self._df(spark), top_k=None, min_doc_freq=2
            ).collect()
        }
        assert got == {w for w, (_, d) in self._reference().items() if d >= 2}

    def test_idf_matches_math_log(self, spark):
        import math

        n = len(self.ROWS)
        rows = text.vocab_stats(self._df(spark), top_k=None, with_idf=True).collect()
        assert rows
        for r in rows:
            assert r.idf == round(math.log((n + 1) / (r.doc_freq + 1)), 6)

    def test_no_countdistinct_expand_in_plan(self, spark):
        """Scale-shape pin: the doc_freq path must be the two-stage
        (term, doc) -> (term) aggregation, not count(DISTINCT)'s Expand."""
        plan = (
            text.vocab_stats(self._df(spark), top_k=None)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "Expand" not in plan, plan[:2000]

    def test_runs_on_documents_table(self, docs):
        top = text.vocab_stats(docs, top_k=5).collect()
        assert 0 < len(top) <= 5
        assert all(r.term_freq >= r.doc_freq >= 1 for r in top)


class TestPiiScrub:
    ROWS = [
        (1, "mail me at jane.doe+spam@sub.example.co.uk today"),
        (2, "server 192.168.0.17 and 8.8.8.8 are up"),
        (3, "call +1 (555) 123-4567 or 555 867 5309"),
        (4, "mixed: bob@host.org from 10.0.0.1 dialed 555-123-9876"),
        (5, "no pii here, just words and 3 digits"),
        (6, ""),
        (7, None),
    ]

    def _run(self, spark):
        df = spark.createDataFrame(self.ROWS, "doc_id int, text string")
        return {
            r.doc_id: (r.n_emails, r.n_ipv4, r.n_phones, r.text_scrubbed)
            for r in text.with_pii_scrub(df).collect()
        }

    def _reference(self):
        import re

        out = {}
        for i, t in self.ROWS:
            t0 = t or ""
            ne = len(re.findall(text.PII_EMAIL_RE, t0))
            t1 = re.sub(text.PII_EMAIL_RE, "<EMAIL>", t0)
            ni = len(re.findall(text.PII_IPV4_RE, t1))
            t2 = re.sub(text.PII_IPV4_RE, "<IP>", t1)
            np_ = len(re.findall(text.PII_PHONE_RE, t2))
            t3 = re.sub(text.PII_PHONE_RE, "<PHONE>", t2)
            out[i] = (ne, ni, np_, t3)
        return out

    def test_matches_python_reference(self, spark):
        got = self._run(spark)
        assert got == self._reference()
        # semantic spot checks, independent of the reference impl
        assert got[1][0] == 1 and "<EMAIL>" in got[1][3]
        assert got[2][1] == 2 and got[2][3].count("<IP>") == 2
        assert got[3][2] == 2 and got[3][3].count("<PHONE>") == 2
        assert got[4][:3] == (1, 1, 1)
        assert got[5] == (0, 0, 0, self.ROWS[4][1])
        assert got[6] == (0, 0, 0, "") and got[7] == (0, 0, 0, "")

    def test_email_host_not_double_counted_as_ip(self, spark):
        df = spark.createDataFrame([(1, "x@10.0.0.1.example.com only")],
                                   "doc_id int, text string")
        r = text.with_pii_scrub(df).first()
        # the dotted host is consumed by the email scrub; the IPv4 pass
        # sees only the placeholder
        assert (r.n_emails, r.n_ipv4, r.n_phones) == (1, 0, 0)
        assert r.text_scrubbed == "<EMAIL> only"

    def test_idempotent(self, spark):
        df = spark.createDataFrame(self.ROWS, "doc_id int, text string")
        once = text.with_pii_scrub(df).select(
            "doc_id", F.col("text_scrubbed").alias("text")
        )
        twice = {
            r.doc_id: (r.n_emails, r.n_ipv4, r.n_phones, r.text_scrubbed)
            for r in text.with_pii_scrub(once).collect()
        }
        assert all(v[:3] == (0, 0, 0) for v in twice.values())
        first = self._run(spark)
        assert {k: v[3] for k, v in twice.items()} == {
            k: v[3] for k, v in first.items()
        }

    def test_no_shuffle_in_plan(self, spark):
        df = spark.createDataFrame(self.ROWS, "doc_id int, text string")
        plan = text.with_pii_scrub(df)._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan[:1500]


class TestQualityFilter:
    def _run(self, spark, rows, **kw):
        df = spark.createDataFrame(rows, "doc_id int, text string")
        return {
            r.doc_id: (r.fail_flags, r.keep)
            for r in text.apply_quality_filters(df, **kw).collect()
        }

    def test_each_rule_fires_alone(self, spark):
        good = "the cat and the dog sat in a big house of wood it is fine"
        rows = [
            (0, good),                                    # passes everything
            (1, "the cat and dog"),                       # too few tokens (1)
            (2, "a b c d e f g h i j k l m n o p q r s a a"),  # mean len < 2 (2)
            (3, "zebra quagga wombat " * 5 + "numbat dingo"),  # no stopwords (4)
            (4, good + " " + ".,!?;:" * 12),              # punct-heavy (8)
            (5, "the cat and " + "big dog " * 20 + "it is of a to in nice"),  # repetitive (16)
        ]
        got = self._run(spark, rows)
        assert got[0] == (0, True)
        assert got[1][0] & 1 and not got[1][1]
        assert got[2][0] & 2 and not got[2][1]
        assert got[3][0] & 4 and not got[3][1]
        assert got[4][0] & 8 and not got[4][1]
        assert got[5][0] & 16 and not got[5][1]

    def test_boundaries_are_inclusive(self, spark):
        # exactly min_tokens tokens with exactly 1-per-50 stopwords and
        # mean length exactly at the bounds must KEEP (rules use strict
        # inequalities against the thresholds)
        ten = "the bb ccc dddd ee fff gggg hh iii jj"  # 10 tokens incl stopword
        got = self._run(spark, [(1, ten)], min_tokens=10)
        assert got[1][1], got
        # one token below the bound drops
        nine = "the bb ccc dddd ee fff gggg hh iii"
        got = self._run(spark, [(1, nine)], min_tokens=10)
        assert got[1] == (1, False)

    def test_matches_python_reference(self, spark):
        import random

        rng = random.Random(99)
        vocab = ["the", "and", "cat", "dog", "tree", "x!", "qq", "abcdefghijk"]
        rows = [
            (d, " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 60))))
            for d in range(80)
        ]
        got = self._run(spark, rows)

        def ref(t):
            toks = t.strip().split() if t.strip() else [""]
            # mirror with_token_stats: split of "" yields one empty token
            toks = t.strip().split() or [""]
            n_tok, n_chr = len(toks), len(t)
            punct = sum(t.count(c) for c in ".,!?;:")
            stop = sum((" %s " % t2).count(" %s " % w)
                       for t2 in [t] for w in text.EN_STOPWORDS)
            g2 = [" ".join(toks[i:i+2]) for i in range(len(toks)-1)] if len(toks) >= 2 else []
            dup = len(g2) - len(set(g2))
            f = 0
            f |= 1 if (n_tok < 10 or n_tok > 100000) else 0
            f |= 2 if (n_chr < 2.0*n_tok or n_chr > 12.0*n_tok) else 0
            f |= 4 if stop*50 < n_tok else 0
            f |= 8 if punct > 0.3*n_chr else 0
            f |= 16 if dup > 0.2*len(g2) else 0
            return (f, f == 0)

        for d, t in rows:
            assert got[d] == ref(t), (d, t, got[d], ref(t))

    def test_no_shuffle_in_plan(self, spark):
        df = spark.createDataFrame([(1, "the cat")], "doc_id int, text string")
        plan = (
            text.apply_quality_filters(df)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "Exchange" not in plan, plan[:1500]


class TestPartitionInvarianceMore:
    """Layout-blindness for the remaining content-addressed candidate
    generators (see TestPartitionInvariance for the rationale)."""

    def _docs(self, spark):
        return spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
            "doc_id", "text"
        )

    @staticmethod
    def _snap(df):
        cols = sorted(df.columns)
        return sorted(tuple(r) for r in df.select(*cols).collect())

    def test_ngram_jaccard_partition_invariant(self, spark):
        base = None
        d = self._docs(spark)
        for layout in [d.coalesce(1), d.repartition(13)]:
            got = self._snap(dedup.ngram_jaccard_pairs(layout, threshold=0.3))
            base = got if base is None else base
            assert got == base

    def test_decontaminate_partition_invariant(self, spark):
        d = self._docs(spark)
        bench = d.limit(20)
        base = None
        for layout in [d.coalesce(1), d.repartition(13)]:
            got = self._snap(dedup.decontaminate(layout, bench))
            base = got if base is None else base
            assert got == base


class TestVocabStatsRandom:
    def test_random_corpus_matches_counter(self, spark):
        import random
        from collections import Counter

        rng = random.Random(20260819)
        vocab = ["The", "the", "a", "B", "b", "cc", "ddd", ""]
        rows = [
            (d, " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 25))))
            for d in range(120)
        ]
        tf, dfc = Counter(), Counter()
        for _, t in rows:
            toks = [w for w in t.lower().split() if w]
            tf.update(toks)
            dfc.update(set(toks))
        got = {
            r.term: (r.term_freq, r.doc_freq)
            for r in text.vocab_stats(
                spark.createDataFrame(rows, "doc_id int, text string"), top_k=None
            ).collect()
        }
        assert got == {w: (tf[w], dfc[w]) for w in tf}

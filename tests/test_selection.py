"""Data-selection ops (operators/retrieval.py, operators/selection.py):
integer BM25 top-k, the weak-label quality classifier, and DSIR
importance resampling."""

import pytest
from pyspark.sql import functions as F

from cmc_knowledge_graph_text2ttl_spark.operators import retrieval as rt
from cmc_knowledge_graph_text2ttl_spark.operators import selection as sel


def _docs(spark, texts, langs=None):
    langs = langs or ["en"] * len(texts)
    return spark.createDataFrame(
        [(i, t, g) for i, (t, g) in enumerate(zip(texts, langs))],
        "doc_id long, text string, lang string",
    )


class TestBm25:
    def test_relevant_doc_ranks_first(self, spark):
        df = _docs(spark, [
            "apple apple apple banana",
            "apple pear pear pear",
            "pear plum plum grape",
            "grape grape grape grape",
        ])
        got = rt.bm25_topk(df, ["apple"], k=4).collect()
        ids = [r.id for r in got]
        assert ids[0] == 0  # highest tf for the query term
        assert set(ids) == {0, 1}  # only matching docs are returned

    def test_rare_term_outranks_common_term(self, spark):
        # doc 0 matches only the rare term, doc 1 only the common one,
        # with identical tf and length → idf decides.
        texts = ["rare x x x", "common x x x"] + ["common y y y"] * 8
        df = _docs(spark, texts)
        got = rt.bm25_topk(df, ["rare", "common"], k=20).collect()
        score = {r.id: r.score for r in got}
        assert score[0] > score[1]

    def test_length_normalization_prefers_short_doc(self, spark):
        df = _docs(spark, ["hit " + "pad " * 4, "hit " + "pad " * 40])
        got = rt.bm25_topk(df, ["hit"], k=2).collect()
        score = {r.id: r.score for r in got}
        assert score[0] > score[1]

    def test_deterministic_tie_break_and_k_cut(self, spark):
        df = _docs(spark, ["same text here"] * 6)
        got = rt.bm25_topk(df, ["same"], k=3).collect()
        assert [r.id for r in got] == [0, 1, 2]

    def test_partition_invariance(self, spark):
        texts = [f"w{i % 7} w{i % 3} filler{i}" for i in range(40)]
        df = _docs(spark, texts)
        a = rt.bm25_topk(df, ["w0", "w1"], k=10).collect()
        b = rt.bm25_topk(df.repartition(13), ["w0", "w1"], k=10).collect()
        assert sorted(map(tuple, a)) == sorted(map(tuple, b))

    def test_empty_query_rejected(self, spark):
        with pytest.raises(ValueError, match="query_terms"):
            rt.bm25_topk(_docs(spark, ["a"]), [])


class TestQualityClassifier:
    def test_discriminative_token_weights(self, spark):
        df = _docs(
            spark,
            ["good prose here", "good words too", "spam junk spam", "junk pile"],
        ).withColumn("label", (F.col("doc_id") < 2).cast("int"))
        w = {r.token: r.weight
             for r in sel.token_label_weights(df, "label").collect()}
        assert w["good"] > 500_000 > w["junk"]
        # Laplace closed form: good in 2 pos 0 neg → 3/4 of 1e6
        assert w["good"] == (2 + 1) * 1_000_000 // 4

    def test_binarized_repetition_does_not_inflate(self, spark):
        df = _docs(spark, ["spam " * 50, "spam x"]).withColumn(
            "label", (F.col("doc_id") == 0).cast("int")
        )
        w = {r.token: (r.df_pos, r.df_neg)
             for r in sel.token_label_weights(df, "label").collect()}
        assert w["spam"] == (1, 1)  # once per doc, not 50

    def test_scoring_separates_classes(self, spark):
        pos = ["quality writing sample"] * 3
        neg = ["zz yy xx garbage"] * 3
        df = _docs(spark, pos + neg).withColumn(
            "label", (F.col("doc_id") < 3).cast("int")
        )
        weights = sel.token_label_weights(df, "label")
        got = {r.id: r.score
               for r in sel.classifier_scores(df, weights).collect()}
        assert min(got[i] for i in (0, 1, 2)) > max(got[i] for i in (3, 4, 5))

    def test_unseen_tokens_take_prior(self, spark):
        train = _docs(spark, ["aa bb"]).withColumn("label", F.lit(1))
        weights = sel.token_label_weights(train, "label")
        score_df = sel.classifier_scores(
            _docs(spark, ["zz qq"]), weights
        ).collect()
        assert score_df[0].n_matched == 0
        assert score_df[0].score == 1_000_000 // 2


class TestHashedNgrams:
    def test_single_token_doc_has_no_bigram(self, spark):
        df = _docs(spark, ["solo"])
        got = sel.hashed_ngram_counts(df).collect()
        assert sum(r.tf for r in got) == 1  # just the unigram

    def test_bigram_counts(self, spark):
        df = _docs(spark, ["a b c"])
        got = sel.hashed_ngram_counts(df).collect()
        assert sum(r.tf for r in got) == 3 + 2  # 3 unigrams + 2 bigrams

    def test_buckets_in_range(self, spark):
        df = _docs(spark, ["one two three four five six"])
        got = sel.hashed_ngram_counts(df, n_buckets=8).collect()
        assert all(0 <= r.bucket < 8 for r in got)


class TestDsir:
    def test_target_like_docs_score_higher(self, spark):
        target_style = ["science research paper method"] * 4
        noise = ["buy cheap pills now discount"] * 4
        raw = _docs(spark, target_style + noise)
        target = raw.where(F.col("doc_id") < 2)
        got = {r.id: r.importance
               for r in sel.dsir_importance(raw, target, n_buckets=64).collect()}
        assert min(got[i] for i in range(4)) > max(got[i] for i in range(4, 8))

    def test_select_top_slice_deterministic(self, spark):
        raw = _docs(spark, ["tgt tokens here"] * 3 + ["other stuff"] * 3)
        target = raw.where(F.col("doc_id") == 0)
        imp = sel.dsir_importance(raw, target, n_buckets=32)
        picked = [r.id for r in sel.dsir_select(imp, 3).collect()]
        assert picked == [0, 1, 2]

    def test_partition_invariance(self, spark):
        texts = [f"tok{i % 5} tok{i % 11} body{i}" for i in range(30)]
        raw = _docs(spark, texts)
        target = raw.where(F.col("doc_id") % 6 == 0)
        a = sel.dsir_importance(raw, target).collect()
        b = sel.dsir_importance(
            raw.repartition(17), target.repartition(5)
        ).collect()
        assert sorted(map(tuple, a)) == sorted(map(tuple, b))

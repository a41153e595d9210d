"""Inverted index / BM25 search and funnel analysis — unit semantics;
sf0.01 oracles cover bm25_search and event_funnel via the driver
contract."""

import pytest
from pyspark.sql import functions as F

from meta_frame_spark.operators.funnel import funnel, funnel_counts
from meta_frame_spark.operators.search import bm25_topk, build_inverted_index


@pytest.fixture(scope="module")
def mini_corpus(spark):
    rows = [
        (1, "spark spark spark"),
        (2, "spark flink"),
        (3, "flink flink trino"),
        (4, "unrelated words only"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


class TestInvertedIndex:
    def test_postings_and_df(self, mini_corpus):
        idx = {r.term: r for r in build_inverted_index(mini_corpus).collect()}
        assert idx["spark"].df == 2
        postings = {p.doc_id: p for p in idx["spark"].postings}
        assert postings[1].tf == 3 and postings[1].positions == [0, 1, 2]
        assert postings[2].tf == 1 and postings[2].positions == [0]
        assert [p.doc_id for p in idx["flink"].postings] == [2, 3]

    def test_without_positions(self, mini_corpus):
        idx = build_inverted_index(mini_corpus, with_positions=False)
        assert "positions" not in idx.schema["postings"].dataType.elementType.names


class TestBM25:
    def test_rarer_term_scores_higher(self, mini_corpus):
        # trino appears in 1 doc, flink in 2: doc 3 (has both) must beat
        # doc 2 (flink only) on the combined query
        out = bm25_topk(mini_corpus, ["flink", "trino"], k=4).collect()
        assert out[0].doc_id == 3
        assert {r.doc_id for r in out} == {2, 3}  # doc 1/4: no query terms

    def test_tf_saturation_not_linear(self, mini_corpus):
        out = {r.doc_id: r.score for r in bm25_topk(mini_corpus, ["spark"], k=4).collect()}
        # tf=3 scores higher than tf=1 but far less than 3x (k1 saturation)
        assert out[1] > out[2]
        assert out[1] < 2.0 * out[2]

    def test_empty_query_raises(self, mini_corpus):
        with pytest.raises(ValueError):
            bm25_topk(mini_corpus, [])


@pytest.fixture(scope="module")
def mini_events(spark):
    rows = [
        # u1 completes the funnel in order
        (1, "2024-01-01 10:00:00", "view"),
        (1, "2024-01-01 10:05:00", "click"),
        (1, "2024-01-01 10:10:00", "purchase"),
        # u2 purchases BEFORE clicking: chain stops at click
        (2, "2024-01-01 09:00:00", "view"),
        (2, "2024-01-01 09:30:00", "purchase"),
        (2, "2024-01-01 10:00:00", "click"),
        # u3 never views: not in the funnel at all
        (3, "2024-01-01 08:00:00", "click"),
        (3, "2024-01-01 08:10:00", "purchase"),
        # u4 views twice; earliest view chains to the later click
        (4, "2024-01-01 07:00:00", "view"),
        (4, "2024-01-01 07:30:00", "view"),
        (4, "2024-01-01 07:45:00", "click"),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts string, event_type string")
    return df.withColumn("ts", F.to_timestamp("ts"))


class TestFunnel:
    def test_earliest_chain_semantics(self, mini_events):
        out = {r.user_id: r for r in funnel(
            mini_events, ["view", "click", "purchase"]
        ).collect()}
        assert set(out) == {1, 2, 4}  # u3 never did step 1
        assert out[1].max_step == 3
        # u2: purchase precedes click, so the chain breaks at 2
        assert out[2].max_step == 2 and out[2].t_3 is None
        assert out[4].max_step == 2
        assert str(out[4].t_1) == "2024-01-01 07:00:00"

    def test_funnel_counts(self, mini_events):
        rows = {r.step: r for r in funnel_counts(
            mini_events, ["view", "click", "purchase"]
        ).collect()}
        assert rows[1].n_users == 3 and rows[1].step_name == "view"
        assert rows[2].n_users == 3
        assert rows[3].n_users == 1

    def test_single_step(self, mini_events):
        out = funnel(mini_events, ["purchase"])
        assert {r.user_id for r in out.collect()} == {1, 2, 3}
        assert all(r.max_step == 1 for r in out.collect())

    def test_empty_steps_raise(self, mini_events):
        with pytest.raises(ValueError):
            funnel(mini_events, [])

    def test_step_name_with_quote(self, spark):
        """Regression: step names reach a stack() SQL string; an
        embedded single quote must be escaped, not break the parse."""
        rows = [(1, "2024-01-01 10:00:00", "add 'pro' plan")]
        df = spark.createDataFrame(rows, "user_id long, ts string, event_type string")
        out = {r.step_name: r.n_users for r in funnel_counts(
            df, ["add 'pro' plan"]
        ).collect()}
        assert out == {"add 'pro' plan": 1}


class TestCohortRetention:
    def test_weekly_matrix(self, spark):
        from meta_frame_spark.operators.funnel import cohort_retention

        rows = [
            # u1 first active week of Jan 1 (Mon), returns week of Jan 8
            (1, "2024-01-02 10:00:00"), (1, "2024-01-10 10:00:00"),
            # u2 same cohort, never returns
            (2, "2024-01-03 10:00:00"),
            # u3 later cohort
            (3, "2024-01-09 10:00:00"),
        ]
        df = spark.createDataFrame(rows, "user_id long, ts string").withColumn(
            "ts", F.to_timestamp("ts")
        )
        out = {(str(r.cohort), r.period_offset): r.n_users
               for r in cohort_retention(df, period="week").collect()}
        assert out[("2024-01-01", 0)] == 2
        assert out[("2024-01-01", 1)] == 1
        assert out[("2024-01-08", 0)] == 1
        assert len(out) == 3

    def test_bad_period_raises(self, spark):
        from meta_frame_spark.operators.funnel import cohort_retention

        df = spark.createDataFrame([(1,)], "user_id long")
        import pytest as _pt
        with _pt.raises(ValueError):
            cohort_retention(df, period="fortnight")


class TestSessionize:
    def test_gap_splits_sessions(self, spark):
        from meta_frame_spark.operators.temporal import sessionize

        rows = [
            (1, 1, "2024-01-01 10:00:00"),
            (2, 1, "2024-01-01 10:10:00"),   # same session (10 min)
            (3, 1, "2024-01-01 11:00:00"),   # 50 min gap -> new session
            (4, 2, "2024-01-01 10:00:00"),   # other user: own numbering
        ]
        df = spark.createDataFrame(
            rows, "event_id long, user_id long, ts string"
        ).withColumn("ts", F.to_timestamp("ts"))
        out = {r.event_id: r.session_id for r in sessionize(
            df, 1800, ["user_id"], tiebreak_col="event_id"
        ).collect()}
        assert out == {1: 1, 2: 1, 3: 2, 4: 1}

    def test_exact_gap_is_same_session(self, spark):
        from meta_frame_spark.operators.temporal import sessionize

        rows = [(1, 1, "2024-01-01 10:00:00"), (2, 1, "2024-01-01 10:30:00")]
        df = spark.createDataFrame(
            rows, "event_id long, user_id long, ts string"
        ).withColumn("ts", F.to_timestamp("ts"))
        out = {r.event_id: r.session_id for r in sessionize(
            df, 1800, ["user_id"], tiebreak_col="event_id"
        ).collect()}
        # gap == threshold does NOT split (strictly-greater rule)
        assert out == {1: 1, 2: 1}


class TestNormalizeScores:
    @pytest.fixture(scope="class")
    def scores(self, spark):
        return spark.createDataFrame(
            [(1, "a", 10.0), (2, "a", 20.0), (3, "a", 30.0),
             (4, "b", 5.0), (5, "b", 5.0)],
            "id long, grp string, x double",
        )

    def test_zscore(self, scores):
        from meta_frame_spark.operators.ranking import normalize_scores

        out = {r.id: r.x_norm for r in normalize_scores(
            scores, "x", "zscore", ["grp"]
        ).collect()}
        assert abs(out[2]) < 1e-12          # group mean
        assert abs(out[1] + 1.0) < 1e-12    # (10-20)/10
        assert out[4] == 0.0 and out[5] == 0.0  # zero variance -> 0

    def test_minmax_and_percent_rank(self, scores):
        from meta_frame_spark.operators.ranking import normalize_scores

        mm = {r.id: r.x_norm for r in normalize_scores(
            scores, "x", "minmax", ["grp"]
        ).collect()}
        assert mm[1] == 0.0 and mm[3] == 1.0 and mm[2] == 0.5
        assert mm[4] == 0.0  # degenerate range
        pr = {r.id: r.x_norm for r in normalize_scores(
            scores, "x", "percent_rank", ["grp"]
        ).collect()}
        assert pr[1] == 0.0 and pr[3] == 1.0
        assert pr[4] == pr[5] == 0.0  # ties share rank

    def test_bad_method_raises(self, scores):
        from meta_frame_spark.operators.ranking import normalize_scores

        with pytest.raises(ValueError):
            normalize_scores(scores, "x", "softmax")


def test_tfidf_topk_terms(spark):
    from meta_frame_spark.operators.search import tfidf_topk_terms

    df = spark.createDataFrame(
        [
            (1, "apple banana apple cherry"),
            (2, "banana banana date"),
            (3, "apple banana"),
        ],
        ["doc_id", "text"],
    )
    out = tfidf_topk_terms(df, k=2, min_term_len=3).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append((r.rank, r.term, r.score))
    # doc 1: apple tf=2 (df=2), cherry tf=1 (df=1) -> apple ranks first
    assert [t for _, t, _ in sorted(by_doc[1])] == ["apple", "cherry"]
    # doc 2: banana tf=2 beats date tf=1 despite banana's df=3
    assert sorted(by_doc[2])[0][1] == "banana"
    # ranks are 1..k and scores positive (smoothed idf floor of 1.0)
    assert all(r.rank in (1, 2) and r.score > 0 for r in out)
    # every doc got at most k rows
    assert all(len(v) <= 2 for v in by_doc.values())


def test_tfidf_tie_breaks_by_term(spark):
    from meta_frame_spark.operators.search import tfidf_topk_terms

    df = spark.createDataFrame([(1, "zed abc zed abc")], ["doc_id", "text"])
    out = sorted(tfidf_topk_terms(df, k=2).collect(), key=lambda r: r.rank)
    assert [r.term for r in out] == ["abc", "zed"]  # equal score -> term asc


class TestRetrievalMetrics:
    def test_hand_case(self, spark):
        """recall/precision/MRR/nDCG against hand-computed values on a
        3-judged-doc query; an unretrieved judged query scores 0; a
        query with no positive judgments is excluded."""
        import pytest as _pt

        from meta_frame_spark.operators.ranking_eval import (
            retrieval_metrics,
        )

        results = spark.createDataFrame(
            [(1, "d1", 1), (1, "d9", 2), (1, "d2", 3),
             (3, "d9", 1),
             (2, "d1", 1)],
            "query_id long, doc_id string, rank int",
        )
        qrels = spark.createDataFrame(
            [(1, "d1", 2), (1, "d2", 1), (1, "d3", 1),
             (2, "d7", 0),          # judged but nothing positive
             (3, "d1", 1)],         # judged, retrieved nothing rel
            "query_id long, doc_id string, rel int",
        )
        out = {r.query_id: r for r in
               retrieval_metrics(results, qrels, k=3).collect()}
        assert set(out) == {1, 3}  # query 2 has no positive judgment
        r1 = out[1]
        assert (r1.n_rel, r1.n_hits) == (3, 2)
        assert r1.recall_at_k == _pt.approx(2 / 3, abs=1e-6)
        assert r1.precision_at_k == _pt.approx(2 / 3, abs=1e-6)
        assert r1.reciprocal_rank == 1.0
        import math
        idcg = 2.0 + 1.0 / math.log2(3) + 1.0 / math.log2(4)
        dcg = 2.0 + 1.0 / math.log2(4)
        assert r1.ndcg_at_k == _pt.approx(dcg / idcg, abs=1e-6)
        r3 = out[3]
        assert (r3.n_hits, r3.recall_at_k, r3.reciprocal_rank,
                r3.ndcg_at_k) == (0, 0.0, 0.0, 0.0)

    def test_cutoff_and_validation(self, spark):
        import pytest as _pt

        from meta_frame_spark.operators.ranking_eval import (
            retrieval_metrics,
        )

        results = spark.createDataFrame(
            [(1, "d1", 1), (1, "d2", 2)],
            "query_id long, doc_id string, rank int",
        )
        qrels = spark.createDataFrame(
            [(1, "d2", 1)], "query_id long, doc_id string, rel int"
        )
        # k=1 cuts d2 out of the retrieved set entirely
        r = retrieval_metrics(results, qrels, k=1).first()
        assert r.n_hits == 0 and r.ndcg_at_k == 0.0
        with _pt.raises(ValueError, match="k must be"):
            retrieval_metrics(results, qrels, k=0)
        with _pt.raises(ValueError, match="missing column"):
            retrieval_metrics(results.drop("rank"), qrels)


class TestRougeN:
    """ROUGE-N overlap metric (operators/ranking_eval.rouge_n_scores)."""

    def test_hand_computed_scores(self, spark):
        from meta_frame_spark.operators.ranking_eval import rouge_n_scores

        df = spark.createDataFrame(
            [(1, "the cat sat", "the cat sat on the mat"),
             (2, "a b a", "a a c"),
             (3, "xyz", "completely different words")],
            "pair_id bigint, cand string, ref string",
        )
        out = {r.pair_id: r for r in rouge_n_scores(
            df, "cand", "ref", ns=(1, 2)).collect()}
        # pair 1: cand grams {the,cat,sat} all in ref -> p=1, r=3/6
        assert out[1].rouge1_p == 1.0
        assert out[1].rouge1_r == 0.5
        # bigrams: "the cat","cat sat" both in ref -> p=1, r=2/5
        assert out[2].rouge1_p == round(2/3, 6)  # clip: a->min(2,2)=2, b->0
        assert out[2].rouge1_r == round(2/3, 6)
        assert out[3].rouge1_p == 0.0 and out[3].rouge1_f == 0.0
        assert out[1].rouge2_p == 1.0
        assert out[1].rouge2_r == 0.4

    def test_multiset_clipping(self, spark):
        from meta_frame_spark.operators.ranking_eval import rouge_n_scores

        # candidate repeats 'a' 4x but ref has it twice: clip to 2
        df = spark.createDataFrame(
            [(1, "a a a a", "a a b")], "pair_id bigint, cand string, ref string"
        )
        r = rouge_n_scores(df, "cand", "ref", ns=(1,)).collect()[0]
        assert r.rouge1_p == 0.5   # 2/4
        assert r.rouge1_r == round(2/3, 6)

    def test_empty_sides_score_zero(self, spark):
        from meta_frame_spark.operators.ranking_eval import rouge_n_scores

        df = spark.createDataFrame(
            [(1, "", "some ref"), (2, "some cand", ""), (3, "", "")],
            "pair_id bigint, cand string, ref string",
        )
        for r in rouge_n_scores(df, "cand", "ref", ns=(1, 2)).collect():
            assert r.rouge1_p == 0.0 and r.rouge1_r == 0.0
            assert r.rouge1_f == 0.0 and r.rouge2_f == 0.0

    def test_short_text_bigram_guard_and_f1_identity(self, spark):
        from meta_frame_spark.operators.ranking_eval import rouge_n_scores

        df = spark.createDataFrame(
            [(1, "word", "word")], "pair_id bigint, cand string, ref string"
        )
        r = rouge_n_scores(df, "cand", "ref", ns=(1, 2)).collect()[0]
        assert r.rouge1_f == 1.0
        assert r.rouge2_f == 0.0  # no bigrams on either side

    def test_map_only_plan_and_validation(self, spark):
        import pytest as _pt

        from meta_frame_spark.operators.ranking_eval import rouge_n_scores

        df = spark.createDataFrame(
            [(1, "a", "a")], "pair_id bigint, cand string, ref string"
        )
        plan = rouge_n_scores(df, "cand", "ref")._jdf.queryExecution()\
            .executedPlan().toString()
        assert "Exchange" not in plan
        with _pt.raises(ValueError, match="ns"):
            rouge_n_scores(df, "cand", "ref", ns=())


class TestBleu:
    """Sentence BLEU (operators/ranking_eval.bleu_scores)."""

    def test_hand_computed_bleu2(self, spark):
        import math
        from meta_frame_spark.operators.ranking_eval import bleu_scores

        df = spark.createDataFrame(
            [(1, "the cat the cat", "the cat sat on the mat")],
            "pair_id bigint, cand string, ref string",
        )
        r = bleu_scores(df, "cand", "ref", max_n=2).collect()[0]
        # 1-grams: clip the->2, cat->1 = 3 of 4; 2-grams: "the cat" 1 of 3
        assert r.bleu_p1 == 0.75
        assert r.bleu_p2 == round(1 / 3, 6)
        # BP: cand 4 tokens vs ref 6 -> exp(1 - 6/4), rounded first
        bp = round(math.exp(1 - 6 / 4), 6)
        assert r.brevity_penalty == bp
        assert r.bleu == round(bp * (0.75 * round(1 / 3, 6)) ** 0.5, 6)

    def test_perfect_and_zero(self, spark):
        from meta_frame_spark.operators.ranking_eval import bleu_scores

        df = spark.createDataFrame(
            [(1, "a b c d", "a b c d"),     # identical -> 1.0
             (2, "x y z w", "a b c d"),     # no overlap -> 0
             (3, "", "a b"),                # empty cand -> 0, bp 0
             (4, "a b c d e", "a b c")],    # longer cand -> bp 1
            "pair_id bigint, cand string, ref string",
        )
        out = {r.pair_id: r for r in
               bleu_scores(df, "cand", "ref", max_n=2).collect()}
        assert out[1].bleu == 1.0 and out[1].brevity_penalty == 1.0
        assert out[2].bleu == 0.0 and out[2].bleu_p1 == 0.0
        assert out[3].bleu == 0.0 and out[3].brevity_penalty == 0.0
        assert out[4].brevity_penalty == 1.0

    def test_zero_higher_order_kills_score(self, spark):
        from meta_frame_spark.operators.ranking_eval import bleu_scores

        # every unigram matches but no bigram does -> unsmoothed BLEU-2 = 0
        df = spark.createDataFrame(
            [(1, "c b a", "a b c")], "pair_id bigint, cand string, ref string"
        )
        r = bleu_scores(df, "cand", "ref", max_n=2).collect()[0]
        assert r.bleu_p1 == 1.0 and r.bleu_p2 == 0.0 and r.bleu == 0.0

    def test_map_only_plan_and_validation(self, spark):
        import pytest as _pt
        from meta_frame_spark.operators.ranking_eval import bleu_scores

        df = spark.createDataFrame(
            [(1, "a", "a")], "pair_id bigint, cand string, ref string"
        )
        plan = bleu_scores(df, "cand", "ref")._jdf.queryExecution() \
            .executedPlan().toString()
        assert "Exchange" not in plan
        with _pt.raises(ValueError, match="max_n"):
            bleu_scores(df, "cand", "ref", max_n=0)
        with _pt.raises(ValueError, match="missing column"):
            bleu_scores(df, "nope", "ref")


class TestChrf:
    """chrF char-n-gram F-beta (operators/ranking_eval.chrf_scores)."""

    def test_hand_computed(self, spark):
        from meta_frame_spark.operators.ranking_eval import chrf_scores

        df = spark.createDataFrame(
            [(1, "ab", "abcd"), (2, "abab", "abab")],
            "doc_id bigint, cand string, ref string",
        )
        out = {r.doc_id: r for r in
               chrf_scores(df, "doc_id", "cand", "ref", max_n=2).collect()}
        # id 1, n=1: clip 2 of cand 2 / ref 4; n=2: "ab" 1 of 1 / 3
        assert out[1].chrf_p == 1.0
        assert out[1].chrf_r == round((0.5 + 1 / 3) / 2, 6)
        p, r = 1.0, round((0.5 + 1 / 3) / 2, 6)
        assert out[1].chrf == round(5 * p * r / (4 * p + r), 6)
        assert out[2].chrf == 1.0

    def test_whitespace_stripped(self, spark):
        from meta_frame_spark.operators.ranking_eval import chrf_scores

        df = spark.createDataFrame(
            [(1, "a  b\tc", "abc")], "doc_id bigint, cand string, ref string"
        )
        r = chrf_scores(df, "doc_id", "cand", "ref", max_n=3).collect()[0]
        assert r.chrf == 1.0

    def test_empty_sides_emit_zero_rows(self, spark):
        from meta_frame_spark.operators.ranking_eval import chrf_scores

        df = spark.createDataFrame(
            [(1, "", "abc"), (2, "abc", ""), (3, "", "")],
            "doc_id bigint, cand string, ref string",
        )
        out = {r.doc_id: r for r in
               chrf_scores(df, "doc_id", "cand", "ref", max_n=2).collect()}
        assert len(out) == 3
        for r in out.values():
            assert r.chrf_p == 0.0 and r.chrf_r == 0.0 and r.chrf == 0.0

    def test_short_rows_missing_orders_average_as_zero(self, spark):
        from meta_frame_spark.operators.ranking_eval import chrf_scores

        # 2-char text has no 3-grams: order 3 contributes 0 to the mean
        df = spark.createDataFrame(
            [(1, "ab", "ab")], "doc_id bigint, cand string, ref string"
        )
        r = chrf_scores(df, "doc_id", "cand", "ref", max_n=3).collect()[0]
        assert r.chrf_p == round(2 / 3, 6) and r.chrf_r == round(2 / 3, 6)

    def test_validation(self, spark):
        import pytest as _pt
        from meta_frame_spark.operators.ranking_eval import chrf_scores

        df = spark.createDataFrame(
            [(1, "a", "a")], "doc_id bigint, cand string, ref string"
        )
        with _pt.raises(ValueError, match="max_n"):
            chrf_scores(df, "doc_id", "cand", "ref", max_n=0)
        with _pt.raises(ValueError, match="beta"):
            chrf_scores(df, "doc_id", "cand", "ref", beta=0)


class TestSelfBleu:
    """Pairwise self-BLEU diversity probe (ranking_eval.self_bleu_probe)."""

    def test_identical_docs_score_one(self, spark):
        from meta_frame_spark.operators.ranking_eval import self_bleu_probe

        df = spark.createDataFrame(
            [(i, "the same exact text every time") for i in range(4)],
            "doc_id bigint, text string",
        )
        out = self_bleu_probe(df, "doc_id", "text", sample_size=4).collect()
        assert len(out) == 4
        for r in out:
            assert r.n_refs == 3 and r.self_bleu == 1.0

    def test_disjoint_docs_score_zero(self, spark):
        from meta_frame_spark.operators.ranking_eval import self_bleu_probe

        df = spark.createDataFrame(
            [(1, "alpha beta gamma"), (2, "delta epsilon zeta"),
             (3, "eta theta iota")],
            "doc_id bigint, text string",
        )
        for r in self_bleu_probe(df, "doc_id", "text",
                                 sample_size=3).collect():
            assert r.self_bleu == 0.0

    def test_sample_bound_and_determinism(self, spark):
        from meta_frame_spark.operators.ranking_eval import self_bleu_probe

        df = spark.createDataFrame(
            [(i, f"doc number {i} talks about topic {i % 3}")
             for i in range(20)],
            "doc_id bigint, text string",
        )
        a = self_bleu_probe(df, "doc_id", "text", sample_size=5)
        b = self_bleu_probe(df.repartition(7), "doc_id", "text",
                            sample_size=5)
        assert a.count() == 5
        assert sorted(map(tuple, a.collect())) == sorted(
            map(tuple, b.collect()))

    def test_validation(self, spark):
        import pytest as _pt
        from meta_frame_spark.operators.ranking_eval import self_bleu_probe

        df = spark.createDataFrame([(1, "x")], "doc_id bigint, text string")
        with _pt.raises(ValueError, match="sample_size"):
            self_bleu_probe(df, "doc_id", "text", sample_size=1)


class TestRake:
    """RAKE keyword phrases (operators/rake.rake_keywords)."""

    def test_hand_computed_scores(self, spark):
        from meta_frame_spark.operators.rake import rake_keywords

        df = spark.createDataFrame(
            [(1, "The quick brown fox and the lazy dog."),
             (2, "a lazy dog")],
            "doc_id bigint, text string",
        )
        out = {r.phrase: r for r in rake_keywords(df, "text").collect()}
        # deg/freq: each of quick/brown/fox scores 3 -> phrase 9;
        # lazy/dog appear twice in 2-word phrases -> 2 each -> 4
        assert out["quick brown fox"].score == 9.0
        assert out["quick brown fox"].freq == 1
        assert out["lazy dog"].score == 4.0 and out["lazy dog"].freq == 2

    def test_phrase_cap_and_punctuation_split(self, spark):
        from meta_frame_spark.operators.rake import rake_keywords

        # 5 content words in a run: dropped by the max_phrase_len cap;
        # punctuation does NOT split (only stopwords do) per the
        # [a-z]+ tokenization — "red, green" stays one phrase
        df = spark.createDataFrame(
            [(1, "alpha beta gamma delta epsilon"),
             (2, "red, green")],
            "doc_id bigint, text string",
        )
        out = {r.phrase: r for r in
               rake_keywords(df, "text", max_phrase_len=4).collect()}
        assert "alpha beta gamma delta epsilon" not in out
        assert out["red green"].freq == 1

    def test_stopword_only_and_empty_docs(self, spark):
        from meta_frame_spark.operators.rake import rake_keywords

        df = spark.createDataFrame(
            [(1, "the of and"), (2, ""), (3, None), (4, "solo")],
            "doc_id bigint, text string",
        )
        out = rake_keywords(df, "text").collect()
        assert [r.phrase for r in out] == ["solo"]
        assert out[0].score == 1.0

    def test_validation(self, spark):
        import pytest as _pt
        from meta_frame_spark.operators.rake import rake_keywords

        df = spark.createDataFrame([(1, "x")], "doc_id bigint, text string")
        with _pt.raises(ValueError):
            rake_keywords(df, "text", top_k=0)
        with _pt.raises(ValueError):
            rake_keywords(df, "text", stopwords=[])
        with _pt.raises(ValueError):
            rake_keywords(df, "text", max_phrase_len=0)


def _write_docs(spark, path, seed, n=60):
    import random

    rng = random.Random(seed)
    vocab = ["spark", "flink", "trino", "duck", "arrow", "lake", "join", "scan"]
    rows = [(i, " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 9))))
            for i in range(n)]
    rows.append((n, ""))  # an empty document still counts toward N and avgdl
    spark.createDataFrame(rows, "doc_id long, text string") \
        .write.mode("overwrite").parquet(path)


class TestBM25CorpusMemo:
    QUERY = ["spark", "trino", "lake"]

    @pytest.fixture(autouse=True)
    def _empty_memo(self):
        from meta_frame_spark.operators.cache import release_tracked_caches

        release_tracked_caches()
        yield
        release_tracked_caches()

    @staticmethod
    def _load(spark, path):
        from meta_frame_spark import load_data

        return load_data(spark, source="parquet", path=path)

    def test_second_read_of_one_path_reuses_corpus_state(self, spark, tmp_path):
        from meta_frame_spark.operators.search import _bm25_corpus

        path = str(tmp_path / "docs.parquet")
        _write_docs(spark, path, seed=1)
        d1, d2 = self._load(spark, path), self._load(spark, path)
        first = bm25_topk(d1, self.QUERY, k=10).collect()
        assert bm25_topk(d2, self.QUERY, k=10).collect() == first
        assert _bm25_corpus(d1, "doc_id", "text")[0] is _bm25_corpus(d2, "doc_id", "text")[0]

    def test_rewritten_source_misses_and_matches_fresh_build(self, spark, tmp_path):
        from meta_frame_spark.operators.cache import release_tracked_caches

        path = str(tmp_path / "docs.parquet")
        _write_docs(spark, path, seed=1)
        before = bm25_topk(self._load(spark, path), self.QUERY, k=10).collect()
        _write_docs(spark, path, seed=2)
        after = bm25_topk(self._load(spark, path), self.QUERY, k=10).collect()
        release_tracked_caches()
        assert after == bm25_topk(self._load(spark, path), self.QUERY, k=10).collect()
        assert after != before

    def test_nondeterministic_corpus_is_never_memoized(self, spark, tmp_path):
        from meta_frame_spark.operators.cache import _MEMO
        from meta_frame_spark.operators.search import _bm25_corpus

        path = str(tmp_path / "docs.parquet")
        _write_docs(spark, path, seed=1)
        docs = self._load(spark, path).withColumn("r", F.rand(7))
        a = _bm25_corpus(docs, "doc_id", "text")[0]
        assert _bm25_corpus(docs, "doc_id", "text")[0] is not a
        assert not _MEMO

    def test_release_empties_memo_and_unpersists(self, spark, tmp_path):
        from pyspark import StorageLevel

        from meta_frame_spark.operators.cache import _MEMO, release_tracked_caches
        from meta_frame_spark.operators.search import _bm25_corpus

        path = str(tmp_path / "docs.parquet")
        _write_docs(spark, path, seed=1)
        docs = self._load(spark, path)
        bm25_topk(docs, self.QUERY, k=10).collect()
        lens = _bm25_corpus(docs, "doc_id", "text")[0]
        assert len(_MEMO) == 1 and lens.storageLevel != StorageLevel.NONE
        assert release_tracked_caches() >= 1
        assert not _MEMO and lens.storageLevel == StorageLevel.NONE
        assert _bm25_corpus(docs, "doc_id", "text")[0] is not lens

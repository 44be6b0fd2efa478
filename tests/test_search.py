"""Search-layer tests (Q1-Q12 semantics, app/search.py:10-99)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ocr_search_spark.search.analysis import (
    fts_match,
    snippet_expr,
    tokens_expr,
    trigram_sim_expr,
)
from ocr_search_spark.search.engine import build_postings, search_documents


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        ("d1", "spark joins tables fast", "2024-01-05 10:00:00", "alice@corp.ru"),
        ("d2", "spark join spark join spark", "2024-06-01 10:00:00", "bob@mail.com"),
        ("d3", "nothing relevant here", "2024-06-02 10:00:00", "alice@corp.ru"),
        ("d4", "Spark JOIN uppercase", "2025-01-01 10:00:00", "carol@corp.ru"),
        ("d5", "", "2023-01-01 10:00:00", "dave@x.io"),
    ]
    df = spark.createDataFrame(
        rows, "doc_id string, content string, created_at string, email string"
    )
    return df.withColumn("created_at", F.col("created_at").cast("timestamp"))


class TestPredicates:
    def test_fts_and_semantics(self, docs):
        got = sorted(
            r.doc_id
            for r in docs.filter(fts_match(tokens_expr("content"), ["spark", "join"])).collect()
        )
        assert got == ["d2", "d4"]  # d1 has 'joins' not 'join'

    def test_tokens_lowercase_and_split(self, spark):
        df = spark.createDataFrame([("Привет, Spark-world!",)], "t string")
        assert df.select(tokens_expr("t")).collect()[0][0] == [
            "привет", "spark", "world",
        ]

    def test_trigram_sim_bounds(self, docs):
        vals = [r[0] for r in docs.select(trigram_sim_expr("content", "spark")).collect()]
        assert all(0.0 <= v <= 1.0 for v in vals)
        # identical string => sim 1.0
        one = docs.sparkSession.createDataFrame([("spark",)], "content string")
        assert one.select(trigram_sim_expr("content", "spark")).collect()[0][0] == 1.0

    def test_snippet_marks_hit(self, docs):
        r = (
            docs.filter(F.col("doc_id") == "d2")
            .select(snippet_expr("content", "spark"))
            .collect()[0][0]
        )
        assert "<b>spark</b>" in r


class TestSearchFlow:
    def test_nonempty_query(self, docs):
        res = search_documents(docs, "spark join", limit=10)
        assert res["total"] == 2
        items = res["items"].collect()
        assert [r.doc_id for r in items] == ["d2", "d4"]  # d2 ranks first (more hits)
        assert items[0].rank == 1.0

    def test_filters_combined(self, docs):
        res = search_documents(
            docs, "spark", ocr_user="corp.ru",
            ocr_from="2024-01-01 00:00:00", ocr_to="2024-12-31 00:00:00",
        )
        assert res["total"] == 1  # d1 only (d2 wrong email, d4 out of range)
        assert res["items"].collect()[0].doc_id == "d1"

    def test_empty_query_latest_10(self, docs):
        res = search_documents(docs, "")
        assert res["total"] == 5
        items = res["items"].collect()
        assert items[0].doc_id == "d4"  # newest first (intended Q10 semantics)

    def test_negation_only_query_with_metachars_does_not_crash(self, docs):
        """Regression (round-2 advice): with no positive term the raw user
        query fell through into the snippet regexp unescaped — '-(foo' threw
        a PatternSyntaxException at collect time."""
        res = search_documents(docs, "-(foo")
        items = res["items"].collect()  # must not raise
        assert res["total"] == 5  # negation of a missing term keeps all docs
        # no positive term to mark: ts_headline-style leading fragment,
        # never a <b></b>-garbled or regex-interpreted snippet (round-4:
        # was asserted empty; the unhighlighted fragment is the reference
        # behavior and what a filter-only search shows too)
        assert all("<b>" not in r.snippet for r in items)
        # fragment for every doc that has content (d5 is the empty doc)
        assert all(r.snippet for r in items if r.doc_id != "d5")

    def test_pagination(self, docs):
        page2 = search_documents(docs, "spark", limit=1, offset=1)
        assert page2["total"] == 3
        assert len(page2["items"].collect()) == 1

    def test_postings_semi_join_path_equals_scan_path(self, docs):
        postings = build_postings(docs, "doc_id", "content")
        a = search_documents(docs, "spark join")
        b = search_documents(docs, "spark join", postings=postings)
        assert a["total"] == b["total"]
        assert sorted(r.doc_id for r in a["items"].collect()) == sorted(
            r.doc_id for r in b["items"].collect()
        )

    def test_postings_positions(self, docs):
        postings = build_postings(docs, "doc_id", "content")
        row = postings.filter(
            (F.col("term") == "spark") & (F.col("doc_id") == "d2")
        ).collect()[0]
        assert row.tf == 3
        assert sorted(row.positions) == [0, 2, 4]

    def test_items_match_reference_contract(self, docs):
        """app/search.py:92-98: {id, filename, link, snippet,
        snippet_is_html} — doc_id is the id; link is the httpfs URL."""
        items = search_documents(docs, "spark join", httpfs="h.example")["items"]
        required = {"doc_id", "filename", "link", "snippet", "snippet_is_html"}
        assert required <= set(items.columns)
        row = items.collect()[0]
        assert row.snippet_is_html is True
        assert row.link == f"http://h.example/{row.filename}"

    def test_link_composes_path_origin_backslashes(self, spark):
        df = spark.createDataFrame(
            [("d1", "spark join text", "up.pdf", "dir\\sub\\up.pdf")],
            "doc_id string, content string, filename string, path_origin string",
        )
        row = search_documents(df, "spark", httpfs="h")["items"].collect()[0]
        assert row.link == "http://h/dir/sub/up.pdf"
        assert row.filename == "up.pdf"

    def test_offset_plan_has_no_global_sort(self, docs):
        """Offset pagination must stay a TakeOrderedAndProject (top-(o+k)
        partials per partition), not a single-partition global window."""
        items = search_documents(docs, "spark", limit=2, offset=1)["items"]
        plan = items._jdf.queryExecution().executedPlan().toString()
        assert "TakeOrderedAndProject" in plan
        assert "Window" not in plan
        assert "SinglePartition" not in plan

    def test_offset_pages_are_disjoint_and_ordered(self, docs):
        full = [r.doc_id for r in search_documents(docs, "spark", limit=3)["items"].collect()]
        p1 = [r.doc_id for r in search_documents(docs, "spark", limit=1, offset=0)["items"].collect()]
        p2 = [r.doc_id for r in search_documents(docs, "spark", limit=1, offset=1)["items"].collect()]
        p3 = [r.doc_id for r in search_documents(docs, "spark", limit=1, offset=2)["items"].collect()]
        assert p1 + p2 + p3 == full


class TestPostingsMatcher:
    """The postings path (one-action matcher, scoring of the matched ids
    only, BM25 statistics from postings) returns exactly what the
    tokenize-and-filter oracle (``postings=None``) returns: ``total`` and
    every returned row, field for field."""

    CASES = [
        ("-uppercase", {}),  # negation-only: whole scope, zero-token d5 too
        ('-"spark join"', {}),
        ("nothing or -spark", {}),
        ("-nothing", {"ocr_user": "corp.ru"}),  # a filter narrows the scope
        ("spark", {"ocr_from": "2024-01-01 00:00:00", "ocr_to": "2024-12-31 00:00:00"}),
        ("spark join", {"ocr_user": "corp.ru", "rank_mode": "bm25"}),
        ("spark join", {"rank_mode": "bm25"}),
        ("spark tables -uppercase", {"rank_mode": "cd"}),
        ("???", {}),  # token-free: matches nothing
        ("or", {}),
        ('"spark join spark"', {}),  # a phrase may repeat a word
        ("spark", {"limit": 1, "offset": 1}),
        ("spark", {"limit": 2, "offset": 2}),
    ]

    @pytest.fixture(scope="class")
    def postings(self, docs):
        return build_postings(docs, "doc_id", "content")

    @pytest.mark.parametrize("scope", ["filterable", "plain"])
    @pytest.mark.parametrize("q,kw", CASES)
    def test_equals_oracle(self, docs, postings, q, kw, scope):
        """``filterable`` docs carry created_at/email, so every search is
        scoped by a filter; ``plain`` docs are the whole corpus, with the
        corpus statistics passed in as a store does. A plain frame cannot
        apply a filter, so both paths reject one and the case is compared
        without it."""
        stats = None
        if scope == "plain":
            docs = docs.select("doc_id", "content")
            stats = (docs.count(), postings.agg(F.sum("tf")).first()[0])
            if any(k.startswith("ocr_") for k in kw):
                for p in (None, postings):
                    with pytest.raises(ValueError, match="filter cannot be applied"):
                        search_documents(docs, q, postings=p, corpus_stats=stats, **kw)
                kw = {k: v for k, v in kw.items() if not k.startswith("ocr_")}
        want = search_documents(docs, q, **kw)
        got = search_documents(docs, q, postings=postings, corpus_stats=stats, **kw)
        assert got["total"] == want["total"]
        assert got["items"].collect() == want["items"].collect()

    def test_query_with_quote_backslash_paren_equals_oracle(self, docs, postings):
        q = "'spark' tables\\ -(nothing)"
        want = search_documents(docs, q)
        got = search_documents(docs, q, postings=postings)
        assert got["total"] == want["total"] == 1
        assert [r.doc_id for r in got["items"].collect()] == [
            r.doc_id for r in want["items"].collect()
        ]


class TestWebsearchGrammar:
    """websearch_to_tsquery semantics (search.py:51-52)."""

    def test_parse_shapes(self):
        from ocr_search_spark.search.websearch import Item, parse_websearch

        assert parse_websearch('"spark streaming" -flink') == [
            (Item(("spark", "streaming")), Item(("flink",), negated=True))
        ]
        assert parse_websearch("a b OR c") == [
            (Item(("a",)), Item(("b",))),
            (Item(("c",)),),
        ]
        assert parse_websearch("") == []
        assert parse_websearch('-"a b"') == [(Item(("a", "b"), negated=True),)]

    def test_query_punctuation_tokenized_like_documents(self, docs):
        # 'spark, join' must not produce the unmatchable term 'spark,'
        res = search_documents(docs, "spark, join")
        assert res["total"] == 2

    def test_phrase_requires_adjacency(self, docs):
        res = search_documents(docs, '"spark join"')
        got = sorted(r.doc_id for r in res["items"].collect())
        assert got == ["d2", "d4"]  # d1 has 'spark joins' (no exact phrase)

    def test_phrase_order_matters(self, docs):
        assert search_documents(docs, '"join spark"')["total"] == 1  # only d2

    def test_or_groups(self, docs):
        res = search_documents(docs, "tables OR uppercase")
        got = sorted(r.doc_id for r in res["items"].collect())
        assert got == ["d1", "d4"]

    def test_exclusion(self, docs):
        res = search_documents(docs, "spark -uppercase")
        got = sorted(r.doc_id for r in res["items"].collect())
        assert got == ["d1", "d2"]

    def test_or_with_exclusion_groups_bind_tighter(self, docs):
        # 'tables OR spark -uppercase' = tables | (spark & !uppercase)
        res = search_documents(docs, "tables OR spark -uppercase")
        got = sorted(r.doc_id for r in res["items"].collect())
        assert got == ["d1", "d2"]

    def test_websearch_postings_path_equals_direct(self, docs):
        """Full-grammar queries resolve from the postings table (positional
        phrase match + semi/anti-joins) with identical results to the
        direct tokenize-and-filter path."""
        postings = build_postings(docs, "doc_id", "content")
        cases = [
            '"spark join" -uppercase',
            "tables OR uppercase",
            '"join spark"',
            "spark -uppercase",
            "tables OR spark -uppercase",
        ]
        for q in cases:
            a = search_documents(docs, q)
            b = search_documents(docs, q, postings=postings)
            assert a["total"] == b["total"], q
            assert sorted(r.doc_id for r in a["items"].collect()) == sorted(
                r.doc_id for r in b["items"].collect()
            ), q

    def test_phrase_match_postings_positions(self, docs):
        from ocr_search_spark.search.engine import match_postings
        from ocr_search_spark.search.websearch import parse_websearch

        postings = build_postings(docs, "doc_id", "content")
        got = match_postings(postings, parse_websearch('"spark join"')).ids
        assert got == ["d2", "d4"]
        # three-word phrase that repeats a word
        got3 = match_postings(postings, parse_websearch('"spark join spark"')).ids
        assert got3 == ["d2"]

    def test_predicate_sql_twin_matches(self, spark, docs):
        """The DuckDB SQL twin of the compiled predicate selects the same
        ids (the CORRECTNESS gate mechanism, in miniature)."""
        import duckdb

        from ocr_search_spark.search.websearch import (
            parse_websearch,
            token_string_sql,
            websearch_sql,
        )

        q = '"spark join" OR tables -nothing'
        parsed = parse_websearch(q)
        pdf = docs.select("doc_id", "content").toPandas()
        con = duckdb.connect()
        con.register("documents", pdf)
        toks = (
            "list_filter(regexp_split_to_array(lower(content), "
            "'[^a-zа-яё0-9_]+'), x -> x <> '')"
        )
        sql = (
            f"WITH t AS (SELECT doc_id, {toks} AS toks FROM documents), "
            f"s AS (SELECT doc_id, toks, {token_string_sql('toks')} "
            "AS tokstr FROM t) "
            f"SELECT doc_id FROM s WHERE {websearch_sql(parsed, 'toks', 'tokstr')}"
        )
        oracle_ids = sorted(r[0] for r in con.execute(sql).fetchall())
        spark_ids = sorted(
            r.doc_id for r in search_documents(docs, q)["items"].collect()
        )
        assert spark_ids == oracle_ids


class TestRanking:
    @pytest.fixture(scope="class")
    def rdocs(self, spark):
        rows = [
            ("r1", "spark join now"),          # adjacent -> cover 2
            ("r2", "spark aa bb cc join"),     # spread  -> cover 5
            ("r3", "spark only here"),         # missing 'join' -> no rank row
            ("r4", "spark spark join spark"),  # tf(spark)=3
            ("r5", "zz zz zz zz"),             # no terms at all
        ]
        return spark.createDataFrame(rows, "doc_id string, text string")

    def test_cover_density(self, rdocs):
        from ocr_search_spark.search.ranking import cover_density_rank

        got = {
            r.doc_id: (r.min_cover, r.rank_cd)
            for r in cover_density_rank(rdocs, ["spark", "join"]).collect()
        }
        assert got == {
            "r1": (2, 1.0),
            "r2": (5, 0.4),
            "r4": (2, 1.0),  # best cover: 'join spark' at positions 2-3
        }

    def test_cover_density_single_term(self, rdocs):
        from ocr_search_spark.search.ranking import cover_density_rank

        got = {
            r.doc_id: r.min_cover
            for r in cover_density_rank(rdocs, ["join"]).collect()
        }
        assert got == {"r1": 1, "r2": 1, "r4": 1}

    def test_bm25_ordering_and_match_set(self, rdocs):
        from ocr_search_spark.search.ranking import bm25_scores

        got = {r.doc_id: r.bm25 for r in bm25_scores(rdocs, ["spark", "join"]).collect()}
        # every doc containing >=1 term scores; absent docs do not
        assert set(got) == {"r1", "r2", "r3", "r4"}
        assert all(v > 0 for v in got.values())
        # same doc length as r1 but tf(spark)=3 > 1 -> strictly higher score;
        # r2 matches both terms but is longer and gets length-penalized
        assert got["r4"] > got["r1"] > got["r3"]

    def test_bm25_hand_value(self, spark):
        """Exact value check on a 2-doc corpus, computed by hand."""
        import math

        from ocr_search_spark.search.ranking import bm25_scores

        docs = spark.createDataFrame(
            [("a", "w spark w w"), ("b", "w w w w")], "doc_id string, text string"
        )
        got = {r.doc_id: r.bm25 for r in bm25_scores(docs, ["spark"]).collect()}
        # N=2, df=1 -> idf = ln(1 + 1.5/1.5) = ln 2; dl=4, avgdl=4 -> denom
        # tf + k1*(1-b+b) = 1 + 1.2 = 2.2 -> score = ln2 * 1 * 2.2/2.2 = ln2
        assert got == {"a": round(math.log(2.0), 6)}

    def test_bm25_degenerate_corpora_do_not_throw(self, spark):
        """ANSI hardening: the corpus-stats projection evaluates its one agg
        row even when nothing matches downstream — an empty corpus (N=0) or
        an all-empty-text corpus (avgdl=0) hit 0/0 in the unguarded form."""
        from ocr_search_spark.search.ranking import bm25_scores

        empty = spark.createDataFrame([], "doc_id string, text string")
        assert bm25_scores(empty, ["spark"]).count() == 0
        blank = spark.createDataFrame(
            [("a", ""), ("b", "  ")], "doc_id string, text string"
        )
        assert bm25_scores(blank, ["spark"]).count() == 0
        # and stats_over with an all-empty stats corpus: matched docs still
        # score (degenerate length norm), no mid-job arithmetic error
        docs = spark.createDataFrame(
            [("c", "spark join")], "doc_id string, text string"
        )
        got = bm25_scores(docs, ["spark"], stats_over=blank).collect()
        assert [r.doc_id for r in got] == ["c"]

    def test_cover_density_matches_bruteforce(self, spark):
        """Randomized equivalence: window-function min-cover vs a scalar
        two-pointer brute force over 200 seeded random docs."""
        import random

        rng = random.Random(1234)
        terms = ["aa", "bb", "cc"]
        vocab = terms + ["x", "y", "z", "w"]
        docs = [
            (f"d{i}", " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 30))))
            for i in range(200)
        ]

        def brute_min_cover(text):
            toks = [t for t in text.split() if t]
            best = None
            for i in range(len(toks)):
                seen = set()
                for j in range(i, len(toks)):
                    if toks[j] in terms:
                        seen.add(toks[j])
                    if len(seen) == len(terms):
                        w = j - i + 1
                        best = w if best is None or w < best else best
                        break
            return best

        want = {d: brute_min_cover(t) for d, t in docs}
        want = {d: c for d, c in want.items() if c is not None}

        from ocr_search_spark.search.ranking import cover_density_rank

        df = spark.createDataFrame(docs, "doc_id string, text string")
        got = {
            r.doc_id: r.min_cover
            for r in cover_density_rank(df, terms).collect()
        }
        assert got == want

    def test_search_rank_modes(self, spark, docs):
        """rank_mode plugs the new scorers into the search flow; the match
        set is identical across modes, only the rank term changes."""
        from ocr_search_spark.search.engine import search_documents

        for mode in ("simple", "cd", "bm25"):
            res = search_documents(docs, "spark join", rank_mode=mode)
            ids = [r.doc_id for r in res["items"].collect()]
            assert res["total"] == 2 and set(ids) == {"d2", "d4"}
        # proximity: d2 has adjacent 'spark join' -> cd rank 1.0 tops
        res = search_documents(docs, "spark join", rank_mode="cd")
        top = res["items"].collect()[0]
        assert top.doc_id == "d2" and top.rank == 1.0


class TestRankModeValidation:
    @pytest.fixture(scope="class")
    def poisoned(self, spark):
        # any job that reads content fails with a Spark error, not the
        # ValueError under test
        return spark.range(3).select(
            F.col("id").cast("string").alias("doc_id"),
            F.raise_error(F.lit("a Spark job ran")).cast("string").alias("content"),
        )

    @pytest.mark.parametrize("q", ["", "-foo", "spark join"])
    @pytest.mark.parametrize("with_postings", [False, True])
    def test_unknown_rank_mode_raises_before_any_job(self, poisoned, q, with_postings):
        """Every query shape rejects an unknown rank_mode before any Spark
        job, including the empty and negation-only queries, which rank
        nothing."""
        postings = build_postings(poisoned) if with_postings else None
        with pytest.raises(ValueError, match="unknown rank_mode"):
            search_documents(poisoned, q, postings=postings, rank_mode="tfidf")

    @pytest.mark.parametrize("q", ["", "spark join"])
    @pytest.mark.parametrize(
        "kw, match",
        [
            ({"limit": -1}, "limit"),
            ({"offset": -3}, "offset"),
            ({"ocr_user": "corp.ru"}, "ocr_user.*'email'"),
            ({"ocr_from": "2024-01-01"}, "ocr_from.*'created_at'"),
            ({"ocr_to": "2024-12-31"}, "ocr_to.*'created_at'"),
        ],
    )
    def test_bad_argument_raises_before_any_job(self, spark, poisoned, q, kw, match):
        """A negative limit or offset, and a filter the frame has no column
        for, raise ValueError before any Spark job (a filter used to be
        dropped, returning every document)."""
        sc = spark.sparkContext
        group = f"test-bad-argument-{'-'.join(kw)}-{bool(q)}"
        sc.setLocalProperty("spark.jobGroup.id", group)
        try:
            with pytest.raises(ValueError, match=match):
                search_documents(poisoned, q, postings=build_postings(poisoned), **kw)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        assert len(sc.statusTracker().getJobIdsForGroup(group)) == 0


class TestSearchReviewRegressions:
    """Round-4 review: token-free queries, filter-only snippets, OR-branch
    ranking/snippets, bm25 corpus IDF, date validation."""

    @pytest.fixture(scope="class")
    def corpus(self, spark):
        rows = [
            ("d1", "alpha words here and more text body", "2024-01-02 10:00:00"),
            ("d2", "beta words over there in the body", "2024-01-03 10:00:00"),
            ("d3", "gamma unrelated content entirely", "2024-01-04 10:00:00"),
        ]
        return spark.createDataFrame(
            rows, "doc_id string, content string, created_at string"
        ).selectExpr("doc_id", "content", "cast(created_at as timestamp) created_at")

    def test_token_free_query_matches_nothing(self, corpus):
        # websearch_to_tsquery('???') is the empty tsquery -> zero rows,
        # not the whole corpus
        assert search_documents(corpus, "???")["total"] == 0
        assert search_documents(corpus, "or")["total"] == 0

    def test_filter_only_search_snippet_not_garbled(self, corpus):
        res = search_documents(corpus, "", ocr_from="2024-01-03 00:00:00")
        items = res["items"].collect()
        assert res["total"] == 2
        assert all("<b></b>" not in r.snippet for r in items)
        assert all(r.snippet for r in items)

    def test_or_match_gets_its_own_term_highlighted(self, corpus):
        res = search_documents(corpus, "alpha OR beta")
        snips = {r.doc_id: r.snippet for r in res["items"].collect()}
        assert "<b>alpha</b>" in snips["d1"]
        assert "<b>beta</b>" in snips["d2"]  # not empty: second OR branch

    def test_cd_rank_nonzero_for_every_or_branch(self, corpus):
        res = search_documents(corpus, "alpha OR beta", rank_mode="cd")
        ranks = {r.doc_id: r.rank for r in res["items"].collect()}
        assert ranks["d1"] > 0 and ranks["d2"] > 0

    def test_bm25_uses_corpus_level_idf(self, corpus):
        # 'words' appears in 2/3 docs, 'alpha' in 1/3: with corpus-level
        # stats the rarer term outweighs the common one for d1
        res = search_documents(corpus, "alpha words", rank_mode="bm25")
        ranks = {r.doc_id: r.rank for r in res["items"].collect()}
        # matched subset = {d1} only; subset-IDF would give ~0 for both
        # terms -> rank ~0; corpus IDF gives a clearly positive score
        assert ranks["d1"] > 0.1

    def test_unparseable_date_filter_raises(self, corpus):
        with pytest.raises(ValueError, match="ocr_from"):
            search_documents(corpus, "alpha", ocr_from="17/08/2026")
        # the store's content table has no created_at: the bounds still parse
        bare = corpus.drop("created_at")
        with pytest.raises(ValueError, match="ocr_from"):
            search_documents(bare, "alpha", ocr_from="17/08/2026")
        with pytest.raises(ValueError, match="ocr_to"):
            search_documents(bare, "alpha", ocr_to="2026-08-17T25:00")


class TestTfidfRelated:
    """tfidf_related_topk (search/ranking.py): exact-integer scalar model
    parity plus the documented pruning/ranking semantics."""

    @staticmethod
    def _scalar(rows, k, frac):
        import math
        from collections import Counter
        import re

        def hb(x):
            return math.floor(2 * math.log2(x))

        toks = {
            i: re.findall(r"[a-zа-яё0-9_]+", t.lower()) for i, t in rows
        }
        n = len(rows)
        tf = {i: Counter(ws) for i, ws in toks.items()}
        df = Counter(t for c in tf.values() for t in c)
        w = {
            i: {
                t: (1 + hb(c)) * (hb(n) - hb(df[t]))
                for t, c in cnt.items()
                if df[t] <= math.floor(frac * n)
                and (1 + hb(c)) * (hb(n) - hb(df[t])) > 0
            }
            for i, cnt in tf.items()
        }
        out = []
        for a in w:
            cand = []
            for b in w:
                if a == b:
                    continue
                dot = sum(w[a][t] * w[b][t] for t in w[a].keys() & w[b].keys())
                if dot > 0:
                    cand.append((b, dot))
            cand.sort(key=lambda x: (-x[1], x[0]))
            for rnk, (b, dot) in enumerate(cand[:k], 1):
                out.append((a, b, dot, rnk))
        return sorted(out)

    def test_matches_scalar_model(self, spark):
        from ocr_search_spark.search.ranking import tfidf_related_topk

        rows = [
            (1, "apple banana cherry apple"),
            (2, "apple banana date"),
            (3, "cherry cherry elderberry"),
            (4, "fig grape melon"),
            (5, "apple banana cherry date"),
            (6, "unrelated words entirely here"),
            (7, "apple apple apple apple banana"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = sorted(
            (r.a, r.b, r.dot, r.rnk)
            for r in tfidf_related_topk(df, k=3, max_df_frac=0.9).collect()
        )
        assert got == self._scalar(rows, 3, 0.9)

    def test_stop_term_pruning_drops_ubiquitous_terms(self, spark):
        from ocr_search_spark.search.ranking import tfidf_related_topk

        # 'the' in every doc; at max_df_frac=0.5 it must not create pairs
        rows = [(i, f"the unique{i}") for i in range(1, 5)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        assert tfidf_related_topk(df, k=3, max_df_frac=0.5).count() == 0

    def test_ranking_is_exact_integer_dot(self, spark):
        from ocr_search_spark.search.ranking import tfidf_related_topk

        rows = [
            (1, "x y"),
            (2, "x y zz zz zz"),   # longer doc, same shared terms
            (3, "x y"),            # identical twin of 1
            (4, "filler other stuff"),  # keeps df(x) < N (idf > 0)
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        r = {
            (x.a, x.rnk): (x.b, x.dot)
            for x in tfidf_related_topk(df, k=2, max_df_frac=1.0).collect()
        }
        # doc1's dots vs 2 and 3 are equal integers -> tie broken b ASC
        assert r[(1, 1)][0] == 2 and r[(1, 2)][0] == 3
        assert r[(1, 1)][1] == r[(1, 2)][1]

    def test_bad_frac_raises(self, spark):
        import pytest

        from ocr_search_spark.search.ranking import tfidf_related_topk

        df = spark.createDataFrame([(1, "a")], "doc_id long, text string")
        with pytest.raises(ValueError):
            tfidf_related_topk(df, max_df_frac=0.0)


class TestRrfFuse:
    """Reciprocal-rank fusion (search/ranking.py rrf_fuse)."""

    def _arm(self, spark, rows):
        return spark.createDataFrame(rows, "doc_id string, rank int")

    def test_matches_scalar_model(self, spark):
        """Two arms with overlapping membership: exact integer parity
        against the scalar RRF model (sum of scale // (k0 + rank))."""
        from ocr_search_spark.search.ranking import rrf_fuse

        lex = [("a", 1), ("b", 2), ("c", 3)]
        sem = [("b", 1), ("d", 2), ("a", 3)]
        got = {
            r.doc_id: (r.rrf, r.n_arms)
            for r in rrf_fuse(
                [self._arm(spark, lex), self._arm(spark, sem)]
            ).collect()
        }
        exp: dict[str, list[int]] = {}
        for arm in (lex, sem):
            for d, rank in arm:
                e = exp.setdefault(d, [0, 0])
                e[0] += 1_000_000_000 // (60 + rank)
                e[1] += 1
        assert got == {d: tuple(v) for d, v in exp.items()}

    def test_both_arms_rank1_beats_single_arm(self, spark):
        """A doc at rank 1 in both arms outranks any single-arm doc, and
        ordering is (rrf DESC, id) with topk honored."""
        from ocr_search_spark.search.ranking import rrf_fuse

        lex = [("x", 1), ("a", 2)]
        sem = [("x", 1), ("b", 2)]
        rows = rrf_fuse(
            [self._arm(spark, lex), self._arm(spark, sem)], topk=2
        ).collect()
        assert [r.doc_id for r in rows] == ["x", "a"]
        assert rows[0].n_arms == 2
        # equal-rrf tie ("a" and "b" both rank-2 singles) broke on doc_id
        assert rows[1].doc_id == "a"

    def test_single_arm_is_reciprocal_ranks(self, spark):
        from ocr_search_spark.search.ranking import rrf_fuse

        rows = rrf_fuse([self._arm(spark, [("a", 1), ("b", 10)])]).collect()
        got = {r.doc_id: r.rrf for r in rows}
        assert got == {"a": 1_000_000_000 // 61, "b": 1_000_000_000 // 70}

    def test_validation(self, spark):
        import pytest as _pytest

        from ocr_search_spark.search.ranking import rrf_fuse

        with _pytest.raises(ValueError):
            rrf_fuse([])
        with _pytest.raises(ValueError):
            rrf_fuse([self._arm(spark, [("a", 1)])], k0=-1)


class TestPrfExpansion:
    """RM3-style pseudo-relevance feedback (ranking.prf_expansion_terms)."""

    def test_matches_scalar_model(self, spark):
        """4-doc corpus: exact parity with a scalar relevance-model
        computation (BM25 top-2 feedback docs, integer contributions)."""
        import math

        from ocr_search_spark.search.ranking import (
            bm25_scores,
            prf_expansion_terms,
        )

        rows = [
            ("a", "spark alpha alpha beta"),
            ("b", "spark spark gamma"),
            ("c", "delta delta delta"),
            ("d", "spark beta"),
        ]
        docs = spark.createDataFrame(rows, "doc_id string, text string")
        got = [
            (r.term, r.weight)
            for r in prf_expansion_terms(
                docs, ["spark"], fb_docs=2, fb_terms=10
            ).collect()
        ]
        # scalar model: BM25 scores (already parity-tested), top-2 docs,
        # contribution (tf * round(bm25*1e6) * 1000) // dl per doc
        bm = {
            r.doc_id: r.bm25 for r in bm25_scores(docs, ["spark"]).collect()
        }
        top2 = sorted(bm, key=lambda d: (-bm[d], d))[:2]
        toks = {d: t.split() for d, t in rows}
        w: dict[str, int] = {}
        for d in top2:
            s_e6 = round(bm[d] * 1_000_000)
            dl = len(toks[d])
            for term in set(toks[d]) - {"spark"}:
                tf = toks[d].count(term)
                w[term] = w.get(term, 0) + (tf * s_e6 * 1000) // dl
        exp = sorted(w.items(), key=lambda kv: (-kv[1], kv[0]))
        assert got == exp
        assert all(t != "spark" for t, _ in got)

    def test_limits_and_validation(self, spark):
        import pytest as _pytest

        from ocr_search_spark.search.ranking import prf_expansion_terms

        docs = spark.createDataFrame(
            [("a", "spark x y z"), ("b", "spark x")],
            "doc_id string, text string",
        )
        out = prf_expansion_terms(docs, ["spark"], fb_docs=5, fb_terms=2)
        assert out.count() == 2  # fb_terms truncation
        with _pytest.raises(ValueError):
            prf_expansion_terms(docs, ["spark"], fb_docs=0)
        with _pytest.raises(ValueError):
            prf_expansion_terms(docs, ["spark"], fb_terms=0)


class TestNdcgAtK:
    """NDCG@k evaluation (ranking.ndcg_at_k)."""

    def _dfs(self, spark, ranked, rels):
        r = spark.createDataFrame(
            ranked, "query_id bigint, doc_id bigint, rank int"
        )
        g = spark.createDataFrame(
            rels, "query_id bigint, doc_id bigint, rel int"
        )
        return r, g

    def test_matches_scalar_model(self, spark):
        import math

        from ocr_search_spark.search.ranking import _ndcg_weights, ndcg_at_k

        ranked = [(1, 10, 1), (1, 11, 2), (1, 12, 3), (1, 13, 4)]
        rels = [(1, 11, 2), (1, 12, 1), (1, 99, 3), (1, 10, 0)]
        r, g = self._dfs(spark, ranked, rels)
        row = ndcg_at_k(r, g, k=3).collect()[0]
        w = _ndcg_weights(3)
        # system: ranks 1..3 -> rels 0, 2, 1
        dcg = 0 * w[0] + 2 * w[1] + 1 * w[2]
        # ideal: rels sorted desc -> 3, 2, 1
        idcg = 3 * w[0] + 2 * w[1] + 1 * w[2]
        assert (row.dcg, row.idcg, row.ndcg_ppm) == (
            dcg,
            idcg,
            dcg * 1_000_000 // idcg,
        )

    def test_perfect_ranking_is_1e6(self, spark):
        from ocr_search_spark.search.ranking import ndcg_at_k

        ranked = [(1, 10, 1), (1, 11, 2)]
        rels = [(1, 10, 2), (1, 11, 1)]
        r, g = self._dfs(spark, ranked, rels)
        assert ndcg_at_k(r, g, k=2).collect()[0].ndcg_ppm == 1_000_000

    def test_no_relevant_docs_reports_zero(self, spark):
        from ocr_search_spark.search.ranking import ndcg_at_k

        ranked = [(1, 10, 1)]
        rels = [(1, 10, 0)]
        r, g = self._dfs(spark, ranked, rels)
        row = ndcg_at_k(r, g, k=5).collect()[0]
        assert (row.dcg, row.idcg, row.ndcg_ppm) == (0, 0, 0)

    def test_k_truncation_and_validation(self, spark):
        import pytest as _pytest

        from ocr_search_spark.search.ranking import _ndcg_weights, ndcg_at_k

        # a relevant doc at rank 3 contributes nothing at k=2
        ranked = [(1, 10, 1), (1, 11, 2), (1, 12, 3)]
        rels = [(1, 12, 1)]
        r, g = self._dfs(spark, ranked, rels)
        row = ndcg_at_k(r, g, k=2).collect()[0]
        assert row.dcg == 0 and row.idcg == _ndcg_weights(1)[0]
        with _pytest.raises(ValueError):
            ndcg_at_k(r, g, k=0)


class TestQlScores:
    """Dirichlet query likelihood (ranking.ql_scores)."""

    def test_hand_value(self, spark):
        """2-doc corpus, mu=4: score computed by hand."""
        import math

        from ocr_search_spark.search.ranking import ql_scores

        docs = spark.createDataFrame(
            [("a", "w spark w w"), ("b", "w w w w")],
            "doc_id string, text string",
        )
        got = {
            r.doc_id: r.ql
            for r in ql_scores(docs, ["spark"], mu=4.0).collect()
        }
        # ctot=8, cf=1 -> pc=1/8; doc a: tf=1, dl=4
        exp = round(math.log((1 + 4.0 * (1 / 8)) / (4 + 4.0)), 6)
        assert got == {"a": exp}

    def test_ranks_tf_and_length(self, spark):
        """More term occurrences rank higher; same tf but longer doc
        ranks lower (the Dirichlet length normalization)."""
        from ocr_search_spark.search.ranking import ql_scores

        docs = spark.createDataFrame(
            [
                ("short", "spark w"),
                ("long", "spark w w w w w w w"),
                ("double", "spark spark w"),
            ],
            "doc_id string, text string",
        )
        got = {
            r.doc_id: r.ql for r in ql_scores(docs, ["spark"]).collect()
        }
        assert got["double"] > got["short"] > got["long"]

    def test_degenerate_corpora_do_not_throw(self, spark):
        from ocr_search_spark.search.ranking import ql_scores

        empty = spark.createDataFrame([], "doc_id string, text string")
        assert ql_scores(empty, ["spark"]).count() == 0
        blank = spark.createDataFrame(
            [("a", ""), ("b", " ")], "doc_id string, text string"
        )
        assert ql_scores(blank, ["spark"]).count() == 0
        # matched doc scored against an all-empty stats corpus: pc=0,
        # tf>0 keeps the log argument positive — no -inf, no ANSI error
        docs = spark.createDataFrame(
            [("c", "spark join")], "doc_id string, text string"
        )
        rows = ql_scores(docs, ["spark"], stats_over=blank).collect()
        assert len(rows) == 1

    def test_validation(self, spark):
        import pytest as _pytest

        from ocr_search_spark.search.ranking import ql_scores

        docs = spark.createDataFrame(
            [("a", "x")], "doc_id string, text string"
        )
        with _pytest.raises(ValueError):
            ql_scores(docs, [])


class TestBm25TermsDf:
    """Data-driven BM25 (ranking.bm25_scores_terms_df)."""

    @staticmethod
    def _scalar(rows, terms, k1=1.2, b=0.75):
        import math

        toks = {d: t.split() for d, t in rows}
        n = len(rows)
        sumdl = sum(len(t) for t in toks.values())
        avgdl = sumdl / n
        out = {}
        for d, t in toks.items():
            dl = len(t)
            total, hit = 0, 0
            for term in set(t) & set(terms):
                tf = t.count(term)
                dft = sum(1 for tt in toks.values() if term in tt)
                idf = math.log(1.0 + (n - dft + 0.5) / (dft + 0.5))
                denom_norm = 1.0 - b + b * dl / avgdl
                s = idf * tf * (k1 + 1.0) / (tf + k1 * denom_norm)
                total += round(s * 1_000_000)
                hit += 1
            if hit:
                out[d] = (total, hit)
        return out

    def test_matches_scalar_model(self, spark):
        from ocr_search_spark.search.ranking import bm25_scores_terms_df

        rows = [
            ("a", "spark alpha alpha beta"),
            ("b", "spark spark join gamma"),
            ("c", "delta delta delta"),
            ("d", "join beta"),
        ]
        docs = spark.createDataFrame(rows, "doc_id string, text string")
        terms = spark.createDataFrame(
            [("spark",), ("join",), ("beta",)], "term string"
        )
        got = {
            r.doc_id: (r.bm25_e6, r.n_terms_hit)
            for r in bm25_scores_terms_df(docs, terms).collect()
        }
        assert got == self._scalar(rows, ["spark", "join", "beta"])
        assert "c" not in got  # no term hit -> absent

    def test_duplicate_terms_deduped(self, spark):
        from ocr_search_spark.search.ranking import bm25_scores_terms_df

        docs = spark.createDataFrame(
            [("a", "spark x"), ("b", "y z")], "doc_id string, text string"
        )
        t1 = spark.createDataFrame([("spark",)], "term string")
        t2 = spark.createDataFrame(
            [("spark",), ("spark",)], "term string"
        )
        one = bm25_scores_terms_df(docs, t1).collect()
        two = bm25_scores_terms_df(docs, t2).collect()
        assert [(r.doc_id, r.bm25_e6) for r in one] == [
            (r.doc_id, r.bm25_e6) for r in two
        ]

    def test_agrees_with_static_bm25(self, spark):
        """Single-term query: the dynamic e6-lattice score equals the
        static form's round-6 score to within one e6 ulp."""
        from ocr_search_spark.search.ranking import (
            bm25_scores,
            bm25_scores_terms_df,
        )

        docs = spark.createDataFrame(
            [("a", "spark w w"), ("b", "w spark spark w"), ("c", "w w")],
            "doc_id string, text string",
        )
        static = {
            r.doc_id: round(r.bm25 * 1_000_000)
            for r in bm25_scores(docs, ["spark"]).collect()
        }
        dyn = {
            r.doc_id: r.bm25_e6
            for r in bm25_scores_terms_df(
                docs, spark.createDataFrame([("spark",)], "term string")
            ).collect()
        }
        assert set(static) == set(dyn)
        assert all(abs(static[d] - dyn[d]) <= 1 for d in static)


class TestMrrAtK:
    """MRR@k evaluation (ranking.mrr_at_k)."""

    def test_first_relevant_rank(self, spark):
        from ocr_search_spark.search.ranking import mrr_at_k

        ranked = spark.createDataFrame(
            [(1, 10, 1), (1, 11, 2), (1, 12, 3), (2, 20, 1)],
            "query_id bigint, doc_id bigint, rank int",
        )
        rels = spark.createDataFrame(
            [(1, 11, 1), (1, 12, 1), (2, 99, 1)],
            "query_id bigint, doc_id bigint, rel int",
        )
        got = {
            r.query_id: (r.first_rel_rank, r.rr_ppm)
            for r in mrr_at_k(ranked, rels, k=10).collect()
        }
        # q1: first relevant at rank 2 -> 500000; q2: none in top-k -> 0
        assert got == {1: (2, 500_000), 2: (None, 0)}

    def test_k_truncation_and_validation(self, spark):
        import pytest as _pytest

        from ocr_search_spark.search.ranking import mrr_at_k

        ranked = spark.createDataFrame(
            [(1, 10, 1), (1, 11, 5)], "query_id bigint, doc_id bigint, rank int"
        )
        rels = spark.createDataFrame(
            [(1, 11, 1)], "query_id bigint, doc_id bigint, rel int"
        )
        got = mrr_at_k(ranked, rels, k=3).collect()[0]
        assert (got.first_rel_rank, got.rr_ppm) == (None, 0)
        with _pytest.raises(ValueError):
            mrr_at_k(ranked, rels, k=0)

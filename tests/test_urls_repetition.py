"""Unit tests: URL canonicalization rules + Gopher n-gram repetition."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from fineweb_domain_analyzer_spark.functions.urls import (
    canonical_url_dedup,
    canonicalize_url,
)
from fineweb_domain_analyzer_spark.operators.textclean import with_ngram_repetition


def _canon(spark, url):
    return (
        spark.createDataFrame([(url,)], "url string")
        .select(canonicalize_url(F.col("url")).alias("c"))
        .first()["c"]
    )


class TestCanonicalizeUrl:
    def test_case_and_fragment(self, spark):
        assert (
            _canon(spark, "HTTPS://WWW.Example.COM/Path#frag")
            == "https://www.example.com/Path"
        )  # path case is significant; host/scheme case is not

    def test_default_ports_stripped_nondefault_kept(self, spark):
        assert _canon(spark, "https://a.com:443/x") == "https://a.com/x"
        assert _canon(spark, "http://a.com:80/x") == "http://a.com/x"
        assert _canon(spark, "http://a.com:8080/x") == "http://a.com:8080/x"
        # :443 is only default for https
        assert _canon(spark, "http://a.com:443/x") == "http://a.com:443/x"

    def test_query_params_sorted_and_utm_dropped(self, spark):
        assert (
            _canon(spark, "https://a.com/p?utm_source=f&b=2&a=1")
            == "https://a.com/p?a=1&b=2"
        )
        assert _canon(spark, "https://a.com/p?b=2&a=1") == "https://a.com/p?a=1&b=2"
        # all params tracked → the '?' goes away entirely
        assert _canon(spark, "https://a.com/p?utm_x=1&utm_y=2") == "https://a.com/p"

    def test_trailing_slash(self, spark):
        assert _canon(spark, "https://a.com/p/") == "https://a.com/p"
        assert _canon(spark, "https://a.com/") == "https://a.com"
        assert _canon(spark, "https://a.com") == "https://a.com"

    def test_null_and_unparseable(self, spark):
        assert _canon(spark, None) is None
        assert _canon(spark, "not-a-url") is None

    def test_variants_collide(self, spark):
        variants = [
            "HTTPS://A.com:443/p/?b=2&a=1#top",
            "https://a.com/p?a=1&b=2&utm_c=x",
            "https://a.com/p/?utm_s=y&b=2&a=1",
        ]
        df = spark.createDataFrame([(u,) for u in variants], ["url"])
        out = df.select(canonicalize_url(F.col("url")).alias("c")).distinct()
        assert out.count() == 1
        assert out.first()["c"] == "https://a.com/p?a=1&b=2"

    def test_dedup_keep_first_deterministic(self, spark):
        rows = [
            ("https://a.com/p?b=2&a=1", 2),
            ("https://a.com/p/?a=1&b=2", 1),
            ("https://b.com/q", 3),
        ]
        df = spark.createDataFrame(rows, ["url", "pri"])
        kept = canonical_url_dedup(df, order_cols=("pri",)).collect()
        by_canon = {r["canonical_url"]: r["url"] for r in kept}
        assert by_canon["https://a.com/p?a=1&b=2"] == "https://a.com/p/?a=1&b=2"
        assert len(kept) == 2

    def test_dedup_preserves_distinct_unparseable_urls(self, spark):
        # canonicalize maps malformed URLs to null; they must NOT all
        # collapse into one null group (ADVICE r3 regression).
        rows = [
            ("not-a-url-one", 1),
            ("still not a url", 2),
            ("://no-scheme", 3),
            ("https://a.com/p", 4),
            ("https://a.com/p/", 5),
        ]
        df = spark.createDataFrame(rows, ["url", "pri"])
        kept = canonical_url_dedup(df, order_cols=("pri",)).collect()
        # 3 distinct malformed rows survive; the two a.com variants dedup
        assert len(kept) == 4
        malformed = sorted(r["url"] for r in kept if r["canonical_url"] is None)
        assert malformed == ["://no-scheme", "not-a-url-one", "still not a url"]


class TestNgramRepetition:
    def test_pure_repetition_tops_out(self, spark):
        df = spark.createDataFrame([(1, "a b a b a b")], ["doc_id", "text"])
        r = with_ngram_repetition(df).first()
        # 2-grams: [a b, b a, a b, b a, a b] → top 'a b' ×3, total chars 15
        assert r["top2gram_char_frac"] == round(9 / 15, 6)
        # all 5-grams unique? 'a b a b a' and 'b a b a b' → no dups
        assert r["dup5gram_char_frac"] == 0.0

    def test_no_repetition(self, spark):
        df = spark.createDataFrame([(1, "q w e r t y u i")], ["doc_id", "text"])
        r = with_ngram_repetition(df).first()
        # every 2-gram distinct → top covers exactly one occurrence
        assert r["top2gram_char_frac"] == round(3 / 21, 6)
        assert r["dup5gram_char_frac"] == 0.0

    def test_short_doc_collapses_to_whole_doc_shingle(self, spark):
        df = spark.createDataFrame([(1, "hello")], ["doc_id", "text"])
        r = with_ngram_repetition(df).first()
        assert r["top2gram_char_frac"] == 1.0
        assert r["dup5gram_char_frac"] == 0.0

    def test_tie_breaks_to_lexicographically_smallest(self, spark):
        # 'z a' and 'a z' both appear twice; top must be 'a z' (lex-min),
        # same length so the fraction is identical either way — assert
        # via a case where lengths differ: 'bb c' ×2 vs 'a bb' ×2
        df = spark.createDataFrame([(1, "a bb c a bb c a")], ["doc_id", "text"])
        r = with_ngram_repetition(df).first()
        # 2-grams: a bb, bb c, c a, a bb, bb c, c a → counts 2,2,2
        # lex-min 'a bb' (4 chars) → top = 2*4 / total(2*4+2*4+2*3)=8/22
        assert r["top2gram_char_frac"] == round(8 / 22, 6)

    def test_shuffle_free_plan(self, spark):
        df = spark.createDataFrame([(1, "a b c d e f")], ["doc_id", "text"])
        plan = with_ngram_repetition(df)._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan


class TestApproxQualityBands:
    """Scale-path banding (operators/quality.py:with_approx_quality_bands)
    — the map-only alternative to q47's exact ntile window."""

    def test_bands_balanced_monotone_broadcast(self, spark):
        from fineweb_domain_analyzer_spark.operators.quality import (
            with_approx_quality_bands,
        )

        df = spark.range(10000).select(
            (F.col("id") % 2).cast("string").alias("lang"),
            (F.col("id") * 7 % 1000).cast("double").alias("score"),
        )
        out = with_approx_quality_bands(df, "score", "lang", k=10)
        sizes = {
            (r["lang"], r["band"]): r["count"]
            for r in out.groupBy("lang", "band").count().collect()
        }
        # 20 (lang, band) cells, each ~1/10 of its lang (exact here:
        # the score space is uniform and the sketch resolves it)
        assert len(sizes) == 20
        assert all(400 <= c <= 600 for c in sizes.values())
        # bands are monotone in score within each lang
        agg = (
            out.groupBy("lang", "band")
            .agg(F.min("score").alias("lo"), F.max("score").alias("hi"))
            .orderBy("lang", "band")
            .collect()
        )
        prev: dict = {}
        for r in agg:
            assert r["lang"] not in prev or r["lo"] >= prev[r["lang"]]
            prev[r["lang"]] = r["hi"]
        # the scale property: cuts join back via broadcast, no fact-side
        # sort or per-group funnel
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan
        assert "Window" not in plan

    def test_null_group_rows_kept(self, spark):
        """ADVICE r3 regression: rows whose group key is null must come
        out banded (their own group), not vanish in the join-back."""
        from fineweb_domain_analyzer_spark.operators.quality import (
            with_approx_quality_bands,
        )

        rows = [("en", 1.0), ("en", 2.0), (None, 5.0), (None, 6.0), (None, 7.0)]
        df = spark.createDataFrame(rows, "lang string, score double")
        out = with_approx_quality_bands(df, "score", "lang", k=2).collect()
        assert len(out) == 5
        nulls = sorted(
            (r["score"], r["band"]) for r in out if r["lang"] is None
        )
        assert [s for s, _ in nulls] == [5.0, 6.0, 7.0]
        # null group banded among themselves: median cut at ~6.0
        assert nulls[0][1] == 1 and nulls[2][1] == 2


class TestUrlFeatures:
    def test_hand_computed_features(self, spark):
        from fineweb_domain_analyzer_spark.functions.urls import with_url_features

        rows = [
            (1, "https://a.b.c.d.example.com/x/y/z?p=1&q=2"),
            (2, "http://host123.com:8080/doc"),
            (3, "https://example.com"),
            (4, "https://best-casino.example.com/win"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, url string")
        out = {
            r["doc_id"]: r.asDict()
            for r in with_url_features(df).collect()
        }
        # deep subdomain chain: 6 host parts -> suspect
        assert out[1]["url_host_parts"] == 6
        assert out[1]["url_path_depth"] == 3
        assert out[1]["url_n_params"] == 2
        assert out[1]["url_suspect"] is True
        # port stripped before digit_frac; 3/11 digits in host123.com
        assert out[2]["url_digit_frac"] == round(3 / 11, 4)
        assert out[2]["url_n_params"] == 0
        assert out[2]["url_suspect"] is False
        # bare authority: no path, nothing suspect
        assert out[3]["url_path_depth"] == 0
        assert out[3]["url_suspect"] is False
        # keyword hit
        assert out[4]["url_spam_kw"] is True
        assert out[4]["url_suspect"] is True

    def test_differential_vs_urllib(self, spark):
        """Host/path/query parsing must agree with Python's urllib on a
        URL zoo covering ports, fragments, empty paths, params."""
        from urllib.parse import urlparse

        from fineweb_domain_analyzer_spark.functions.urls import with_url_features

        zoo = [
            "https://example.com",
            "https://example.com/",
            "https://example.com/a/b/c",
            "https://example.com/a/b/c/",
            "http://example.com:8080/a?x=1",
            "https://a.b.example.com/p?x=1&y=2&z=3",
            "https://example.com/p#frag",
            "https://example.com/p?x=1#frag",
            "https://EXAMPLE.com/UPPER",
            "https://host99.example.com:9090/deep/1/2/3/4/5/6/7/8/9",
        ]
        rows = [(i, u) for i, u in enumerate(zoo)]
        df = spark.createDataFrame(rows, "doc_id long, url string")
        out = {r["doc_id"]: r.asDict() for r in with_url_features(df).collect()}
        for i, u in rows:
            p = urlparse(u)
            host = (p.hostname or "").lower()
            exp_depth = len([s for s in p.path.split("/") if s])
            exp_params = len(p.query.split("&")) if p.query else 0
            assert out[i]["url_path_depth"] == exp_depth, (u, out[i])
            assert out[i]["url_n_params"] == exp_params, (u, out[i])
            assert out[i]["url_host_parts"] == len(host.split(".")), (u, out[i])
            digits = sum(c.isdigit() for c in host)
            assert out[i]["url_digit_frac"] == round(
                digits / max(len(host), 1), 4
            ), (u, out[i])


class TestSurtKey:
    @pytest.mark.parametrize(
        "url,expected",
        [
            ("https://sub.example.com:8080/a/b?q=1", "com,example,sub)/a/b?q=1"),
            ("http://WWW.Example.COM", "com,example,www)/"),
            ("https://example.com/x#frag", "com,example)/x"),
            ("https://localhost/p", "localhost)/p"),
            # a query without a path still gets the root path's '/'
            ("https://example.com?q=1", "com,example)/?q=1"),
            ("https://Example.com:8080?a=b#f", "com,example)/?a=b"),
            ("not-a-url", None),
            ("", None),
            (None, None),
        ],
    )
    def test_keys(self, spark, url, expected):
        from pyspark.sql import functions as F
        from pyspark.sql.types import StringType, StructField, StructType

        from fineweb_domain_analyzer_spark.functions.urls import surt_key

        df = spark.createDataFrame(
            [(url,)], StructType([StructField("url", StringType())])
        )
        assert df.select(surt_key(F.col("url")).alias("s")).collect()[0]["s"] == expected

    def test_sort_colocates_site(self, spark):
        """Lexicographic SURT order groups a host with its subdomains."""
        from pyspark.sql import functions as F

        from fineweb_domain_analyzer_spark.functions.urls import surt_key

        urls = [
            "https://a.example.com/1",
            "https://zz-other.com/x",
            "https://example.com/2",
            "https://b.example.com/3",
            "https://aardvark.org/y",
        ]
        df = spark.createDataFrame([(u,) for u in urls], "url string")
        ordered = [
            r["url"]
            for r in df.orderBy(surt_key(F.col("url"))).collect()
        ]
        ex = [u for u in ordered if "example.com" in u]
        # the three example.com hosts are contiguous in the sort
        idx = [ordered.index(u) for u in ex]
        assert idx == list(range(min(idx), min(idx) + 3))


class TestRfc9309Match:
    @pytest.mark.parametrize(
        "path,disallow,allow,expected",
        [
            ("/doc/5", ["/doc/"], [], False),          # disallow only
            ("/doc/15", ["/doc/"], ["/doc/1"], True),  # longer allow wins
            ("/doc/5", ["/doc/"], ["/doc/1"], False),  # allow doesn't match
            ("/doc/5", ["/doc/"], ["/doc/"], True),    # tie -> allow wins
            ("/other", ["/doc/"], [], True),           # nothing matches
            ("/x", [], [], True),                      # no rules
            ("/x", None, None, True),                  # null rules
            ("/public/a", ["/"], ["/public/"], True),  # carve-out under /
            ("/private", ["/"], ["/public/"], False),
        ],
    )
    def test_truth_table(self, spark, path, disallow, allow, expected):
        from pyspark.sql import functions as F
        from pyspark.sql.types import (
            ArrayType,
            StringType,
            StructField,
            StructType,
        )

        from fineweb_domain_analyzer_spark.operators.filtering import (
            rfc9309_path_allowed,
        )

        schema = StructType(
            [
                StructField("path", StringType()),
                StructField("d", ArrayType(StringType())),
                StructField("a", ArrayType(StringType())),
            ]
        )
        df = spark.createDataFrame([(path, disallow, allow)], schema)
        got = df.select(
            rfc9309_path_allowed(F.col("path"), F.col("d"), F.col("a")).alias("ok")
        ).collect()[0]["ok"]
        assert got is expected

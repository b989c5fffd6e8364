"""Quality heuristics, langid, perplexity, PII/toxicity scrub tests."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from fineweb_domain_analyzer_spark.functions.scrub import (
    EMAIL_TOKEN,
    IP_TOKEN,
    PHONE_TOKEN,
    TOX_TOKEN,
    scrub_all,
    scrub_pii,
)
from fineweb_domain_analyzer_spark.functions.textfns import (
    bpe_ish_token_count,
    content_fingerprint,
    exact_fingerprint,
    langid_heuristic,
    ws_token_count,
)
from fineweb_domain_analyzer_spark.operators.quality import (
    gopher_keep,
    langid_udf_for,
    perplexity_udf_for,
    register_model_artifact,
    unigram_perplexity,
    with_quality_features,
)


def _one(spark, text):
    return spark.createDataFrame([(text,)], ["text"])


def test_quality_features_basic(spark):
    df = with_quality_features(_one(spark, "the cat sat on the mat"))
    r = df.collect()[0]
    assert r["word_count"] == 6
    assert r["mean_word_len"] == round((3 + 3 + 3 + 2 + 3 + 3) / 6, 4)
    assert r["symbol_ratio"] == 0.0
    assert r["stopword_density"] == round(2 / 6, 4)  # 'the' twice
    assert r["max_word_repeat_ratio"] == round(2 / 6, 4)


def test_quality_features_symbols_and_repeats(spark):
    r = with_quality_features(_one(spark, "$$$ %%% spam spam spam spam")).collect()[0]
    assert r["symbol_ratio"] > 0.2
    assert r["max_word_repeat_ratio"] == round(4 / 6, 4)


def test_quality_features_empty(spark):
    r = with_quality_features(_one(spark, "")).collect()[0]
    assert r["word_count"] == 0
    assert r["max_word_repeat_ratio"] == 0.0


# Java regex ``\s`` (Spark's split/regexp_replace): ASCII whitespace
# only, unlike Python's Unicode ``\s``.
_JAVA_WS = r"[ \t\n\x0b\f\r]+"


def _round4(x: float) -> float:
    """Spark's round(double, 4): HALF_UP on the double's decimal repr."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(Decimal(repr(x)).quantize(Decimal("0.0001"), ROUND_HALF_UP))


def _quality_features_py(text: str) -> tuple:
    """Pure-Python oracle of the five features: Spark ``trim`` strips
    spaces only, ``split`` keeps leading/trailing empty tokens, lengths
    count code points."""
    import re
    from collections import Counter

    from fineweb_domain_analyzer_spark.operators.quality import STOPWORDS_EN

    trimmed = text.strip(" ")
    toks = re.split(_JAVA_WS, trimmed.lower())
    n = 0 if not trimmed else len(toks)
    d = max(n, 1)
    symbols = sum(
        1 for c in text if not (re.fullmatch(_JAVA_WS, c) or re.fullmatch("[A-Za-z0-9]", c))
    )
    return (
        n,
        _round4(len(re.sub(_JAVA_WS, "", trimmed)) / d),
        _round4(symbols / max(len(text), 1)),
        _round4(sum(t in STOPWORDS_EN for t in toks) / d),
        0.0 if n == 0 else _round4(max(Counter(toks).values()) / d),
    )


def test_quality_features_match_python_oracle(spark):
    """with_quality_features value by value against the oracle: the
    run chain's edge rows (empty, whitespace-only, one token, all one
    token, tied runs, longest run last or first) and the symbol/length
    regexes over every Java whitespace char, accented letters and a
    supplementary-plane char, plus seeded random mixes."""
    import random

    texts = [
        "", " ", "   ", "\t\x0b\f\r\n", "word", "Word", "the the the the",
        "b b a a", "a b a b c", "c a b c c b c", "a a b b b", "z y y y x x",
        " lead and trail ", "\tTab\x0bvt\fff\rcr\nlf end",
        "café naïve Ünïcode éé", "𝔘 𝔘𝔘 𝔘 x", "$$$ %%% spam spam spam spam",
        "the\u00a0nbsp is not whitespace", "a-b_c! (d) [e] 1,2,3",
    ]
    rng = random.Random(11)
    pool = ["the", "a", "of", "in", "x", "X", "é", "𝔘", "$", "9", "to", "ab", "!?"]
    seps = [" ", "  ", "\t", "\x0b", "\f", "\r", "\n", ""]
    for _ in range(150):
        k = rng.randint(0, 25)
        texts.append("".join(rng.choice(pool) + rng.choice(seps) for _ in range(k)))
    df = spark.createDataFrame(list(enumerate(texts)), "i int, text string")
    cols = ["word_count", "mean_word_len", "symbol_ratio", "stopword_density",
            "max_word_repeat_ratio"]
    for r in with_quality_features(df).select("i", *cols).collect():
        assert tuple(r[c] for c in cols) == _quality_features_py(texts[r["i"]]), repr(
            texts[r["i"]]
        )


def test_quality_features_filter_pushdown_stays_linear(spark):
    """A filter on a feature is pushed below the feature projections
    with every stage column inlined; no lambda body may then hold the
    inlined sort (or tokenize), which would rerun once per element."""
    df = with_quality_features(_one(spark, "a b b")).filter(
        F.col("max_word_repeat_ratio") < 0.5
    )
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "Filter" in plan and "sort_array" in plan.split("Filter", 1)[1]
    start = plan.find("lambdafunction(")
    while start >= 0:
        depth, end = 0, start
        for end in range(start + len("lambdafunction"), len(plan)):
            depth += {"(": 1, ")": -1}.get(plan[end], 0)
            if depth == 0:
                break
        body = plan[start:end]
        assert "sort_array" not in body and "split(" not in body, body
        start = plan.find("lambdafunction(", start + 1)


def test_scrub_all_equals_ungated_chain(spark):
    """The ``@``-gated email scrub equals the plain four-regex chain,
    kept here as the reference."""
    import random

    from fineweb_domain_analyzer_spark.functions.scrub import (
        EMAIL_RE,
        IPV4_RE,
        PHONE_RE,
        toxicity_pattern,
    )

    def reference(c):
        for pat, tok in ((EMAIL_RE, EMAIL_TOKEN), (PHONE_RE, PHONE_TOKEN),
                         (IPV4_RE, IP_TOKEN), (toxicity_pattern(), TOX_TOKEN)):
            c = F.regexp_replace(c, pat, tok)
        return c

    texts = [
        None, "", "@", "an @ sign but no mail", "@handle and x@y", "a@b.c",
        "mail a.b@example.com(860) 649-7922", "u@host.org 10.0.0.1 badword1",
        "x@y.io860-649-7922 1.2.3.4", "no at sign: 860-649-7922 10.9.8.7",
        "plain prose with no identifiers", "é@ü.de 𝔘 @@ a@@b.com",
    ]
    rng = random.Random(5)
    parts = ["word", "@", "a.b@ex.com", "(860) 649-7922", "10.0.0.1", "badword1",
             "x@", "@y.org", "12", " "]
    for _ in range(200):
        texts.append(" ".join(rng.choices(parts, k=rng.randint(0, 12))))
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    diff = df.filter(~scrub_all(F.col("text")).eqNullSafe(reference(F.col("text"))))
    assert diff.collect() == []
    hits = df.filter(scrub_all(F.col("text")).contains(EMAIL_TOKEN)).count()
    assert hits > 0


def test_with_langid_equals_langid_heuristic(spark):
    """The staged packed-count langid (with its stopword-union
    pre-check) against the single-expression per-language form on
    seeded stopword mixes, shared words (la/que/en) included."""
    import random

    from fineweb_domain_analyzer_spark.functions.textfns import (
        LANG_STOPWORDS,
        with_langid,
    )

    words = sorted({w for ws in LANG_STOPWORDS.values() for w in ws})
    words += ["la", "que", "en", "zzz", "Der", "THE", "中文", "x"]
    rng = random.Random(3)
    texts = ["", "   ", "la que en", "la la que que", "這是一段中文文本 裡面有很多漢字 the la"]
    for _ in range(300):
        texts.append(" ".join(rng.choices(words, k=rng.randint(1, 30))))
    df = spark.createDataFrame(list(enumerate(texts)), "i int, text string")
    rows = with_langid(df).withColumn("want", langid_heuristic("text")).collect()
    assert all(r["langid"] == r["want"] for r in rows), [
        (r["text"], r["langid"], r["want"]) for r in rows if r["langid"] != r["want"]
    ]
    assert {r["langid"] for r in rows} == {"en", "de", "fr", "es", "zh", "unk"}


def test_gopher_keep(spark):
    good = "word " * 60 + "the of and to in is it that for with"
    df = with_quality_features(
        spark.createDataFrame([(1, good), (2, "too short"), (3, "$$$ " * 80)], ["id", "text"])
    )
    rows = {
        r["id"]: r["keep"]
        for r in df.withColumn(
            "keep",
            gopher_keep(
                F.col("word_count"),
                F.col("mean_word_len"),
                F.col("symbol_ratio"),
                F.col("stopword_density"),
                F.col("max_word_repeat_ratio"),
                max_repeat_ratio=0.9,
            ),
        ).collect()
    }
    assert rows[1] is True
    assert rows[2] is False  # too few words
    assert rows[3] is False  # symbols


def test_langid_heuristic(spark):
    rows = spark.createDataFrame(
        [
            (1, "the cat is in the house and it is warm"),
            (2, "der hund ist nicht das problem und alles ist gut"),
            (3, "le chat est dans la maison et les oiseaux"),
            (4, "el gato es de los parques para que vea"),
            (5, "這是一段中文文本 裡面有很多漢字 用來測試語言識別"),
            (6, "zzz qqq xxx"),
        ],
        ["id", "text"],
    ).withColumn("lid", langid_heuristic("text"))
    got = {r["id"]: r["lid"] for r in rows.collect()}
    assert got[1] == "en"
    assert got[2] == "de"
    assert got[3] == "fr"
    assert got[4] == "es"
    assert got[5] == "zh"
    assert got[6] == "unk"


def test_unigram_perplexity(spark):
    docs = spark.createDataFrame(
        [(1, "a a a a"), (2, "a a b c")], ["doc_id", "text"]
    )
    got = {r["doc_id"]: r["perplexity"] for r in unigram_perplexity(docs).collect()}
    # doc 1 is all high-probability tokens → lower perplexity than doc 2
    assert got[1] < got[2]
    # exact: p(a)=6/8, p(b)=p(c)=1/8 → ppl1 = 8/6; ppl2 = 2^(avg nll)
    assert abs(got[1] - 8 / 6) < 1e-3


def test_scrub_pii(spark):
    text = "mail a.b@example.com or call (860) 649-7922 from 23.224.4.59 now"
    out = _one(spark, text).select(scrub_pii(F.col("text")).alias("t")).collect()[0]["t"]
    assert EMAIL_TOKEN in out and PHONE_TOKEN in out and IP_TOKEN in out
    assert "example.com" not in out and "860" not in out and "23.224" not in out


def test_scrub_idempotent(spark):
    text = "x a.b@example.com y 10.0.0.1 z badword1 860-649-7922"
    df = _one(spark, text)
    once = df.select(scrub_all(F.col("text")).alias("t"))
    twice = once.select(scrub_all(F.col("t")).alias("t"))
    assert once.collect()[0]["t"] == twice.collect()[0]["t"]
    assert TOX_TOKEN in once.collect()[0]["t"]


def test_scrub_preserves_clean_text(spark):
    text = "perfectly clean prose with no identifiers at all"
    out = _one(spark, text).select(scrub_all(F.col("text")).alias("t")).collect()[0]["t"]
    assert out == text


def test_token_counts(spark):
    df = _one(spark, "hello, world! x2")
    r = df.select(
        ws_token_count(F.col("text")).alias("ws"),
        bpe_ish_token_count(F.col("text")).alias("bpe"),
    ).collect()[0]
    assert r["ws"] == 3
    # hello , world ! x 2 → 6
    assert r["bpe"] == 6


def test_fingerprints(spark):
    df = spark.createDataFrame(
        [(1, "b a c"), (2, "a b c"), (3, "a b d")], ["id", "text"]
    )
    rows = df.select(
        "id",
        content_fingerprint(F.col("text")).alias("cf"),
        exact_fingerprint(F.col("text")).alias("ef"),
    ).collect()
    got = {r["id"]: r for r in rows}
    assert got[1]["cf"] == got[2]["cf"]  # order-insensitive
    assert got[1]["cf"] != got[3]["cf"]
    assert got[1]["ef"] != got[2]["ef"]  # byte-exact differs


def test_scrub_randomized_postcondition(spark):
    """After scrub_all, no PII pattern may match anywhere in any output
    (the patterns are in the Java∩RE2∩Python-re subset, so Python's re
    verifies the Spark-side result)."""
    import random
    import re

    from fineweb_domain_analyzer_spark.functions.scrub import (
        EMAIL_RE,
        IPV4_RE,
        PHONE_RE,
        scrub_all,
    )

    rng = random.Random(4242)
    words = "alpha beta gamma delta ip mail call dot com net org 12 345".split()
    rows = []
    for i in range(300):
        base = " ".join(rng.choices(words, k=rng.randint(0, 25)))
        pii = rng.choice(
            [
                f" user{i}@mail-{i}.example.org ",
                f" ({rng.randint(200, 999)}) {rng.randint(200, 999)}-{rng.randint(1000, 9999)} ",
                f" {rng.randint(1, 255)}.{rng.randint(0, 255)}.{rng.randint(0, 255)}.{rng.randint(0, 255)} ",
                " badword1 ",
                "",
            ]
        )
        pos = rng.randint(0, max(len(base), 1))
        rows.append((i, base[:pos] + pii + base[pos:]))
    df = spark.createDataFrame(rows, ["i", "text"])
    out = df.select("i", scrub_all(F.col("text")).alias("s")).collect()
    for pat in (EMAIL_RE, PHONE_RE, IPV4_RE, r"\bbadword1\b"):
        rx = re.compile(pat)
        for r in out:
            assert not rx.search(r["s"]), (pat, r["s"])


def test_bigram_perplexity_properties(spark):
    """Deterministic repeated text has perplexity 1 (every bigram fully
    predictable); mixed corpus yields ppl > 1; <2-token docs excluded."""
    from fineweb_domain_analyzer_spark.operators.quality import bigram_perplexity

    df = spark.createDataFrame(
        [
            (1, "a b a b a b a b"),
            (2, "x y z w q r s t"),
            (3, "solo"),
            (4, "x z y w r q t s"),
        ],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r["bigram_perplexity"] for r in bigram_perplexity(df).collect()}
    assert 3 not in got  # no bigrams
    assert got[1] == 1.0  # fully predictable
    assert got[2] > 1.0 and got[4] > 1.0


def test_perplexity_broadcast_switch_same_values(spark):
    """broadcast_lm=False (the web-scale path — a full-corpus vocab /
    bigram table won't fit an executor broadcast) must produce the
    same scores via shuffle joins, and its static plan must not hint
    a broadcast of the LM (SortMergeJoin on the scoring join)."""
    from fineweb_domain_analyzer_spark.operators.quality import (
        bigram_perplexity,
        unigram_perplexity,
    )

    df = spark.createDataFrame(
        [(i, f"the cat sat on mat number {i % 5} again and again") for i in range(40)],
        ["doc_id", "text"],
    )
    for op, col in (
        (unigram_perplexity, "perplexity"),
        (bigram_perplexity, "bigram_perplexity"),
    ):
        bcast = {r["doc_id"]: r[col] for r in op(df, broadcast_lm=True).collect()}
        shuf_df = op(df, broadcast_lm=False)
        shuf = {r["doc_id"]: r[col] for r in shuf_df.collect()}
        assert bcast == shuf, op.__name__
        plan = shuf_df._sc._jvm.PythonSQLUtils.explainString(
            shuf_df._jdf.queryExecution(), "extended"
        )
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, op.__name__


def test_langid_monster_doc_no_packed_overflow(spark):
    """Docs at or past the 32,768-token fast-path guard must take the
    per-language fallback path. Two distinct hazards (ADVICE r2):
    field carry (packed 16-bit counter wraps into the neighbor field)
    and ANSI long overflow — 33k hits on the TOP language's field
    ('es', bits 48-63) pushes the packed sum past 2^63, which under
    Spark 4's default ANSI mode throws at COMPUTE time, so the packed
    aggregate must be gated inside the CaseWhen, not just unread."""
    from fineweb_domain_analyzer_spark.functions.textfns import with_langid

    rows = [
        ("carry", ("the " * 70_000).strip(), "en"),
        # 'el' is an es stopword; 33k hits lands in the top packed field
        ("ansi-overflow", ("el " * 33_000).strip(), "es"),
        # largest doc still on the fast path, all hits in the top field
        ("fast-edge", ("el " * 32_767).strip(), "es"),
    ]
    df = spark.createDataFrame(rows, "url string, text string, want string")
    for r in with_langid(df).collect():
        assert r["langid"] == r["want"], r["url"]


def test_unregistered_artifact_fails_the_job(spark):
    """A model UDF over a name with no registered artifact fails the
    job with an error naming the artifact; there is no stand-in model."""
    df = _one(spark, "the cat and the dog of the house")
    for udf in (langid_udf_for("unregistered"), perplexity_udf_for("unregistered")):
        with pytest.raises(
            Exception, match="no model artifact registered under 'unregistered'"
        ):
            df.select(udf(F.col("text"))).collect()


def test_removed_artifact_is_noticed_by_reused_worker(spark):
    """Workers re-probe the SparkFiles root every batch and cache models
    by (name, artifact path): once the staged artifact is removed, a
    reused worker raises instead of serving its cached model."""
    import os

    from pyspark import SparkFiles

    from fineweb_domain_analyzer_spark.operators.quality import artifact_basename

    art = os.path.join(
        os.path.dirname(__file__), "..", "fineweb_domain_analyzer_spark", "artifacts"
    )
    register_model_artifact(spark, "langid_rm", os.path.join(art, "langid_marker.bin"))
    register_model_artifact(spark, "kenlm_rm", os.path.join(art, "tiny_unigram.arpa"))
    df = _one(spark, "the a data")
    lid = langid_udf_for("langid_rm")(F.col("text"))
    ppl = F.round(perplexity_udf_for("kenlm_rm")(F.col("text")), 4)
    got = df.select(lid.alias("lid"), ppl.alias("ppl")).collect()[0]
    # unigram ARPA by hand: the(-0.5)+a(-0.75)+data(-1.0)+eos(-1.0) over 4
    assert (got["lid"], got["ppl"]) == ("gen", round(10 ** (3.25 / 4), 4))

    for name in ("langid_rm", "kenlm_rm"):
        os.remove(os.path.join(SparkFiles.getRootDirectory(), artifact_basename(name)))
    for name, col in (("langid_rm", lid), ("kenlm_rm", ppl)):
        with pytest.raises(
            Exception, match=f"no model artifact registered under '{name}'"
        ):
            df.select(col).collect()


class TestQualityScoreAndBudget:
    def test_logistic_score_hand_computed(self, spark):
        import math

        from fineweb_domain_analyzer_spark.operators.quality import (
            with_quality_features,
            with_quality_score,
        )

        df = spark.createDataFrame(
            [(1, "the cat sat on the mat with a hat that fit")],
            "doc_id long, text string",
        )
        row = with_quality_score(with_quality_features(df)).collect()[0]
        z = (
            -1.0
            + 0.8 * math.log1p(row["word_count"])
            + 0.3 * row["mean_word_len"]
            - 4.0 * row["symbol_ratio"]
            + 6.0 * row["stopword_density"]
            - 3.0 * row["max_word_repeat_ratio"]
        )
        assert row["quality_score"] == round(1.0 / (1.0 + math.exp(-z)), 4)

    def test_budget_greedy_cut(self, spark):
        from pyspark.sql import functions as F

        from fineweb_domain_analyzer_spark.operators.quality import (
            select_within_token_budget,
        )

        rows = [  # (doc_id, score, tokens)
            (1, 0.9, 40), (2, 0.8, 50), (3, 0.8, 30), (4, 0.5, 100), (5, 0.4, 5)
        ]
        df = spark.createDataFrame(rows, "doc_id long, quality_score double, word_count long")
        picked = {
            r["doc_id"]: r["_cum_tokens"]
            for r in select_within_token_budget(df, token_budget=120).collect()
        }
        # order: 1(40) -> 2(90, tie broken by id) -> 3(120) -> 4 would
        # be 220 > budget; 5 also over because the RUNNING total is cut
        assert picked == {1: 40, 2: 90, 3: 120}

    def test_budget_banded_equals_exact_kernel(self, spark):
        """VERDICT r3 #3: the default (banded) plan must produce the
        EXACT same kept set and _cum_tokens as the global-window
        kernel — including tied scores straddling band cuts — with no
        unpartitioned window over the input."""
        from pyspark.sql import functions as F

        from fineweb_domain_analyzer_spark.operators.quality import (
            select_within_token_budget,
        )

        # 20k docs; scores deliberately coarse (only 97 distinct
        # values) so many ties straddle the 64 approximate band cuts
        df = spark.range(20_000).select(
            F.col("id").alias("doc_id"),
            (F.round((F.col("id") * 37 % 97) / 97.0, 4)).alias(
                "quality_score"
            ),
            (F.col("id") * 13 % 200 + 5).alias("word_count"),
        )
        budget = 300_000  # ~15% of total tokens → boundary mid-corpus
        cols = ["doc_id", "quality_score", "word_count", "_cum_tokens"]
        banded = select_within_token_budget(df, budget, banded=True)
        exact = select_within_token_budget(df, budget, banded=False)
        got = sorted(tuple(r) for r in banded.select(*cols).collect())
        want = sorted(tuple(r) for r in exact.select(*cols).collect())
        assert got == want
        assert len(got) > 0

        # plan: every window is partitioned by _band; the global-sort
        # window (windowspecdefinition starting with the score column)
        # must not appear anywhere in the banded plan
        plan = banded._jdf.queryExecution().executedPlan().toString()
        assert "windowspecdefinition(_band" in plan
        assert "windowspecdefinition(quality_score" not in plan
        exact_plan = exact._jdf.queryExecution().executedPlan().toString()
        assert "windowspecdefinition(quality_score" in exact_plan

    def test_budget_banded_keeps_zero_token_row_at_exact_boundary(self, spark):
        """Regression (r4 review): a band whose offset EQUALS the
        budget can still hold zero-token rows the global kernel keeps
        (_cum_tokens == budget); the band prune must use <=, not <."""
        from fineweb_domain_analyzer_spark.operators.quality import (
            select_within_token_budget,
        )

        # doc 1 (score 3, 100 tokens) fills the budget exactly; doc 2
        # (score 2, 0 tokens) lands in a band with offset == budget
        rows = [(1, 3.0, 100), (2, 2.0, 0), (3, 1.0, 50)]
        df = spark.createDataFrame(
            rows, "doc_id long, quality_score double, word_count long"
        )
        kept = lambda banded: sorted(
            (r["doc_id"], r["_cum_tokens"])
            for r in select_within_token_budget(
                df, 100, banded=banded, n_bands=4
            ).collect()
        )
        assert kept(False) == [(1, 100), (2, 100)]
        assert kept(True) == kept(False)

    def test_budget_banded_prunes_out_of_budget_bands(self, spark):
        """With budget ≪ corpus, the offset-filter must remove most
        bands BEFORE the per-band sort (scale property: the window
        only ever sees ~budget worth of rows)."""
        from pyspark.sql import functions as F

        from fineweb_domain_analyzer_spark.operators.quality import (
            select_within_token_budget,
        )

        df = spark.range(50_000).select(
            F.col("id").alias("doc_id"),
            (F.col("id") % 10_000 / 10_000.0).alias("quality_score"),
            F.lit(100).cast("long").alias("word_count"),
        )
        # budget = 0.2% of the 5M total tokens
        out = select_within_token_budget(df, 10_000, banded=True)
        rows = out.collect()
        assert len(rows) == 100  # 10_000 / 100 tokens each
        # all kept rows come from the top of the score range
        assert min(r["quality_score"] for r in rows) > 0.99

    def test_compression_ratio_matches_zlib(self, spark):
        import zlib

        from fineweb_domain_analyzer_spark.operators.quality import (
            with_compression_ratio,
        )

        texts = ["a" * 500, "the quick brown fox jumps over the lazy dog", ""]
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
        )
        out = {r["doc_id"]: r["compression_ratio"] for r in with_compression_ratio(df).collect()}
        for i, t in enumerate(texts):
            raw = t.encode()
            exp = 1.0 if not raw else round(len(zlib.compress(raw, 6)) / len(raw), 4)
            assert out[i] == exp, (i, t[:20])
        assert out[0] < 0.1  # repetitive text compresses hard


class TestKeepTopPctByGroup:
    def _kept(self, spark, rows, pct):
        from fineweb_domain_analyzer_spark.operators.quality import (
            keep_top_pct_by_group,
        )

        df = spark.createDataFrame(
            rows, "doc_id long, lang string, quality_score double"
        )
        return sorted(
            r["doc_id"]
            for r in keep_top_pct_by_group(df, pct).collect()
        )

    def test_same_fraction_per_group(self, spark):
        # en: 10 docs scored 0.1..1.0; fr: 5 docs scored 0.1..0.5 —
        # a 40% cut keeps 4 en and 2 fr (fraction adapts per group;
        # a global threshold at en's 40% mark would keep 0 fr docs)
        rows = [(i, "en", i / 10.0) for i in range(1, 11)] + [
            (100 + i, "fr", i / 10.0) for i in range(1, 6)
        ]
        assert self._kept(spark, rows, 40) == [7, 8, 9, 10, 104, 105]

    def test_ties_break_on_id_deterministically(self, spark):
        rows = [(1, "en", 0.5), (2, "en", 0.5), (3, "en", 0.5), (4, "en", 0.5)]
        # 50% of 4 = 2 kept; equal scores -> smallest ids win
        assert self._kept(spark, rows, 50) == [1, 2]

    def test_banded_equals_exact_incl_null_group(self, spark):
        """The default (banded) plan must produce the EXACT kept set —
        heavy score ties straddling band cuts, a null group key, and
        groups of very different sizes — with every window partitioned
        by (group, band), never by the group alone."""
        import re

        from fineweb_domain_analyzer_spark.operators.quality import (
            keep_top_pct_by_group,
        )

        df = spark.range(20_000).select(
            F.col("id").alias("doc_id"),
            F.when(F.col("id") % 7 == 0, None)
            .when(F.col("id") % 3 == 0, "fr")
            .otherwise("en")
            .alias("lang"),
            (F.round((F.col("id") * 37 % 97) / 97.0, 4)).alias(
                "quality_score"
            ),
        )
        banded = keep_top_pct_by_group(df, 40, banded=True)
        got = sorted(r["doc_id"] for r in banded.collect())
        want = sorted(
            r["doc_id"]
            for r in keep_top_pct_by_group(df, 40, banded=False).collect()
        )
        assert got == want and len(got) > 0
        plan = banded._jdf.queryExecution().executedPlan().toString()
        specs = re.findall(r"windowspecdefinition\((\w+)#\d+, (\w+)#", plan)
        assert specs and all(s == ("lang", "_band") for s in specs)

    def test_null_scores_and_single_band_keep_equivalence(self, spark):
        """Regression (r4 review): a group whose scores are ALL null
        (null cut array) and the n_bands=1 degenerate case must match
        the exact kernel — previously the null band fell out of the
        band equi-join and the whole group silently vanished."""
        from fineweb_domain_analyzer_spark.operators.quality import (
            keep_top_pct_by_group,
        )

        rows = [(i, "en", i / 10.0) for i in range(10)] + [
            (100 + i, "zz", None) for i in range(10)
        ]
        df = spark.createDataFrame(
            rows, "doc_id long, lang string, quality_score double"
        )
        kept = lambda **kw: sorted(
            r["doc_id"] for r in keep_top_pct_by_group(df, 50, **kw).collect()
        )
        exact = kept(banded=False)
        assert [d for d in exact if d >= 100] == [100, 101, 102, 103, 104]
        assert kept(banded=True) == exact
        assert kept(banded=True, n_bands=1) == exact

    def test_budget_banded_all_null_scores_equivalence(self, spark):
        """Same defect class in the token-budget twin: all-null scores
        must not make the banded (default) path return empty."""
        from fineweb_domain_analyzer_spark.operators.quality import (
            select_within_token_budget,
        )

        df = spark.createDataFrame(
            [(i, None, 30) for i in range(10)],
            "doc_id long, quality_score double, word_count long",
        )
        kept = lambda banded: sorted(
            r["doc_id"]
            for r in select_within_token_budget(
                df, 100, banded=banded
            ).collect()
        )
        assert kept(False) == [0, 1, 2]  # 3 x 30 tokens within 100
        assert kept(True) == kept(False)

    def test_small_group_floor(self, spark):
        # 1-doc group at 40%: rank 1*100 > 40*1 -> nothing kept
        rows = [(1, "xx", 0.9)] + [(i, "en", i / 10.0) for i in range(1, 11)]
        assert self._kept(spark, rows, 40) == [7, 8, 9, 10]


class TestSequencePackingPlan:
    def _plan(self, spark, rows, seq_len=10, n_shards=1, **kw):
        from fineweb_domain_analyzer_spark.operators.quality import (
            plan_sequence_packing,
        )

        df = spark.createDataFrame(rows, "doc_id long, word_count long")
        return {
            r["doc_id"]: (r["shard"], r["start_seq"], r["start_offset"])
            for r in plan_sequence_packing(
                df, seq_len=seq_len, n_shards=n_shards, **kw
            ).collect()
        }

    def test_concat_and_chunk_offsets(self, spark):
        # tokens 4, 9, 10, 3 in id order -> starts 0, 4, 13, 23
        got = self._plan(spark, [(1, 4), (2, 9), (3, 10), (4, 3)])
        assert got == {
            1: (0, 0, 0),   # starts seq 0 offset 0
            2: (0, 0, 4),   # same seq, offset 4 (crosses into seq 1)
            3: (0, 1, 3),   # starts inside seq 1
            4: (0, 2, 3),   # starts inside seq 2
        }

    def test_shards_pack_independently(self, spark):
        got = self._plan(spark, [(0, 7), (1, 7), (2, 7), (3, 7)], n_shards=2)
        # shard 0: ids 0,2 -> starts 0,7 ; shard 1: ids 1,3 -> starts 0,7
        assert got[0] == (0, 0, 0) and got[2] == (0, 0, 7)
        assert got[1] == (1, 0, 0) and got[3] == (1, 0, 7)

    def test_zero_token_docs_take_no_space(self, spark):
        got = self._plan(spark, [(1, 0), (2, 5), (3, 0), (4, 5)])
        assert got[2] == (0, 0, 0)
        assert got[3] == (0, 0, 5)  # zero-token doc 3 sits at 5, no advance
        assert got[4] == (0, 0, 5)


class TestExactNtileByGroup:
    """q47's banded-by-default exact ntile: identical assignment to the
    per-group ntile window, but no window ever partitioned by the group
    alone (the whole-language single-reducer sort is the last
    scale-killer VERDICT r4 flagged)."""

    def _df(self, spark):
        # 20k rows, one dominant group (~76%), a small group, a null
        # group, and coarse values so ties straddle band cuts
        return spark.range(20_000).select(
            F.col("id").alias("doc_id"),
            F.when(F.col("id") % 7 == 0, None)
            .when(F.col("id") % 4 == 0, "fr")
            .otherwise("en")
            .alias("lang"),
            (F.col("id") * 13 % 211).cast("bigint").alias("word_count"),
        )

    def test_banded_equals_exact_ntile(self, spark):
        from fineweb_domain_analyzer_spark.operators.quality import (
            exact_ntile_by_group,
        )

        df = self._df(spark)
        cols = ["doc_id", "lang", "word_count", "decile"]
        got = sorted(
            tuple(r)
            for r in exact_ntile_by_group(
                df, 10, "word_count", "lang", "doc_id",
                out_col="decile", banded=True,
            ).select(*cols).collect()
        )
        want = sorted(
            tuple(r)
            for r in exact_ntile_by_group(
                df, 10, "word_count", "lang", "doc_id",
                out_col="decile", banded=False,
            ).select(*cols).collect()
        )
        assert got == want and len(got) == 20_000

    def test_small_groups_and_single_band(self, spark):
        """Groups smaller than k (each row its own bucket — the q=0
        branch) and the n_bands=1 degenerate case (null cut array)."""
        from fineweb_domain_analyzer_spark.operators.quality import (
            exact_ntile_by_group,
        )

        rows = [(i, "tiny", i * 10) for i in range(4)] + [
            (100 + i, "mid", (i * 7) % 13) for i in range(25)
        ]
        df = spark.createDataFrame(
            rows, "doc_id long, lang string, word_count long"
        )
        for kw in ({"banded": True}, {"banded": True, "n_bands": 1}):
            got = sorted(
                tuple(r)
                for r in exact_ntile_by_group(
                    df, 10, out_col="decile", **kw
                ).select("doc_id", "decile").collect()
            )
            want = sorted(
                tuple(r)
                for r in exact_ntile_by_group(
                    df, 10, out_col="decile", banded=False
                ).select("doc_id", "decile").collect()
            )
            assert got == want
        # tiny group: 4 rows, 10 buckets -> buckets 1..4
        exact = {
            r["doc_id"]: r["decile"]
            for r in exact_ntile_by_group(
                df, 10, out_col="decile", banded=False
            ).collect()
        }
        assert [exact[i] for i in range(4)] == [1, 2, 3, 4]

    def test_no_whole_group_window_in_banded_plan(self, spark):
        import re

        from fineweb_domain_analyzer_spark.operators.quality import (
            exact_ntile_by_group,
        )

        df = self._df(spark)
        banded = exact_ntile_by_group(
            df, 10, "word_count", "lang", "doc_id", out_col="decile"
        )
        plan = banded._jdf.queryExecution().executedPlan().toString()
        specs = re.findall(r"windowspecdefinition\((\w+)#\d+, (\w+)#", plan)
        assert specs and all(s == ("lang", "_band") for s in specs)
        exact_plan = (
            exact_ntile_by_group(df, 10, out_col="decile", banded=False)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert re.search(r"windowspecdefinition\(lang#\d+, word_count#", exact_plan)


def test_ccnet_split_semantics(spark, sf_dir):
    """q92 contract: per language the terciles are balanced by the
    ntile rule (first n%3 buckets get one extra), head has the LOWEST
    perplexity (most-fluent slice), and every doc with tokens gets
    exactly one label."""
    from fineweb_domain_analyzer_spark.queries import q92_ccnet_split

    out = q92_ccnet_split(spark, str(sf_dir)).collect()
    assert out and all(r["split"] in ("head", "middle", "tail") for r in out)
    by_lang = {}
    for r in out:
        by_lang.setdefault(r["lang"], []).append(r)
    for lang, rows in by_lang.items():
        n = len(rows)
        sizes = {1: 0, 2: 0, 3: 0}
        for r in rows:
            sizes[r["tercile"]] += 1
        q_, rem = divmod(n, 3)
        expect = [q_ + (1 if i < rem else 0) for i in range(3)]
        assert [sizes[1], sizes[2], sizes[3]] == expect, lang
        head_max = max(r["perplexity"] for r in rows if r["tercile"] == 1)
        tail_min = min(r["perplexity"] for r in rows if r["tercile"] == 3)
        assert head_max <= tail_min, lang


# --- deterministic corpus shuffle -----------------------------------


def test_deterministic_shuffle_contract(spark):
    from fineweb_domain_analyzer_spark.operators.quality import (
        deterministic_shuffle,
        plan_sequence_packing,
    )

    docs = spark.range(500).withColumnRenamed("id", "doc_id")
    a = deterministic_shuffle(docs, seed=7, n_shards=4)
    b = deterministic_shuffle(docs, seed=7, n_shards=4)
    rows_a = sorted(a.collect())
    assert rows_a == sorted(b.collect())  # bit-identical re-run

    # seed changes the order, not the membership
    c = deterministic_shuffle(docs, seed=8, n_shards=4)
    order_a = [r["doc_id"] for r in a.orderBy("shard", "shard_rank").collect()]
    order_c = [r["doc_id"] for r in c.orderBy("shard", "shard_rank").collect()]
    assert sorted(order_a) == sorted(order_c) == list(range(500))
    assert order_a != order_c

    # ranks are contiguous 1..n within every shard
    import collections

    per_shard = collections.defaultdict(list)
    for r in rows_a:
        per_shard[r["shard"]].append(r["shard_rank"])
    assert set(per_shard) == {0, 1, 2, 3}
    for ranks in per_shard.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))

    # scale shape: the window is per-shard, never a single partition
    plan = a._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan

    # composes with the packer: shuffled layout, still integer-exact
    shuffled = a.join(
        docs.selectExpr("doc_id", "doc_id % 7 + 1 as wc"), "doc_id"
    )
    packed = plan_sequence_packing(
        shuffled, seq_len=16, n_shards=4, tokens_col="wc",
        shard_col="shard",
    )
    assert packed.count() == 500


def test_deterministic_shuffle_rejects_bad_shards(spark):
    from fineweb_domain_analyzer_spark.operators.quality import (
        deterministic_shuffle,
    )

    import pytest as _pytest

    docs = spark.range(3).withColumnRenamed("id", "doc_id")
    with _pytest.raises(ValueError):
        deterministic_shuffle(docs, seed=1, n_shards=0)

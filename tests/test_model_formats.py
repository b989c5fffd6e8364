"""Binary-format loader tests: the pure-Python fastText .bin and ARPA
readers parse the genuine on-disk formats, `_construct_model` sniffs
and dispatches them, and the fixture artifacts drive the langid /
perplexity UDFs end-to-end on Spark (q62/q63 surface)."""

from __future__ import annotations

import math
import os
import struct

import numpy as np
import pandas as pd
import pytest

from fineweb_domain_analyzer_spark.functions.model_formats import (
    FASTTEXT_MAGIC,
    ArpaLM,
    PureFastTextSupervised,
    ft_tokenize,
    sniff_model_format,
    write_arpa,
    write_fasttext_supervised,
)

ART = os.path.join(
    os.path.dirname(__file__), "..", "fineweb_domain_analyzer_spark", "artifacts"
)


def _mk_langid(tmp_path):
    p = str(tmp_path / "m.bin")
    words = ["hot", "cold"]
    vecs = np.array([[1.0, 0.0], [0.0, 1.0]], "f")
    out = np.eye(2, dtype="f")
    write_fasttext_supervised(p, words, vecs, ["warm", "cool"], out)
    return p


class TestFastTextBin:
    def test_round_trip_fields(self, tmp_path):
        m = PureFastTextSupervised(_mk_langid(tmp_path))
        assert m.labels == ["warm", "cool"]
        assert set(m.word_id) == {"hot", "cold", "</s>"}
        assert m.dim == 2
        assert m.input.shape == (3, 2)
        assert m.output.shape == (2, 2)

    def test_signature_bytes(self, tmp_path):
        p = _mk_langid(tmp_path)
        with open(p, "rb") as f:
            magic, version = struct.unpack("<ii", f.read(8))
        assert magic == FASTTEXT_MAGIC == 793712314
        assert version == 12
        assert sniff_model_format(p) == "fasttext-bin"

    def test_predictions(self, tmp_path):
        m = PureFastTextSupervised(_mk_langid(tmp_path))
        got = m.predict_batch(
            pd.Series(["hot hot cold", "cold", "nothing known", None, ""])
        )
        # first-max tie-break: all-zero scores -> first label
        assert list(got) == ["warm", "cool", "warm", None, "warm"]

    def test_tokenize_matches_fasttext_delimiters(self):
        assert ft_tokenize("a\tb\nc  d\r") == ["a", "b", "c", "d", "</s>"]

    def test_unknown_words_skipped_not_averaged(self, tmp_path):
        m = PureFastTextSupervised(_mk_langid(tmp_path))
        # 'cold' + 9 unknown words: unknowns contribute nothing
        assert m.predict_one("cold " + "zzz " * 9) == "cool"

    def test_wrong_magic_rejected(self, tmp_path):
        p = tmp_path / "bad.bin"
        p.write_bytes(b"\x00" * 64)
        with pytest.raises(ValueError, match="magic"):
            PureFastTextSupervised(str(p))

    def test_quantized_rejected(self, tmp_path):
        p = _mk_langid(tmp_path)
        data = bytearray(open(p, "rb").read())
        # quant_ byte sits right after the dictionary; skip the header
        # (magic+version, 12-int+double args, iiiqq dict counts)
        off = 8 + (12 * 4 + 8) + 28
        for _ in range(5):  # 3 words + 2 labels
            off = data.index(0, off) + 1 + 9
        data[off] = 1
        p2 = tmp_path / "quant.bin"
        p2.write_bytes(bytes(data))
        with pytest.raises(ValueError, match="quantized"):
            PureFastTextSupervised(str(p2))

    def test_committed_fixture_loads(self):
        m = PureFastTextSupervised(os.path.join(ART, "langid_marker.bin"))
        assert m.labels == ["db", "flow", "gen"]
        assert m.predict_one("table scan stream") == "db"
        assert m.predict_one("stream batch the") == "flow"
        assert m.predict_one("unmarked words only") == "db"  # all-zero tie


class TestArpa:
    def test_unigram_fixture_perplexity_by_hand(self):
        lm = ArpaLM(os.path.join(ART, "tiny_unigram.arpa"))
        assert lm.order == 1
        # "the data": -0.5 + -1.0 + eos -1.0 = -2.5 over (2+1) words
        assert lm.perplexity("the data") == pytest.approx(10 ** (2.5 / 3))
        # unknown maps to <unk> = -2.5
        assert lm.perplexity("zebra") == pytest.approx(10 ** (3.5 / 2))
        assert lm.perplexity(None) is None
        assert lm.perplexity("") == pytest.approx(10.0)  # eos only

    def test_bigram_backoff_by_hand(self):
        lm = ArpaLM(os.path.join(ART, "tiny_bigram.arpa"))
        assert lm.order == 2
        # direct bigram path: (<s>,the) (the,data) (data,</s>)
        assert lm.score("the data") == pytest.approx(-0.25 - 0.375 - 0.5)
        # backoff path: p(data|<s>) = bow(<s>) + p(data);
        # p(the|data) = bow(data) + p(the); p(</s>|the) = bow(the) + p(</s>)
        assert lm.score("data the") == pytest.approx(
            (-0.5 - 1.0) + (-0.125 - 0.5) + (-0.25 - 1.0)
        )
        # OOV context becomes <unk>: p(zebra|<s>) = bow(<s>) + p(<unk>);
        # p(</s>|<unk>) = p(</s>) (no <unk> backoff weight)
        assert lm.score("zebra") == pytest.approx((-0.5 - 2.5) + (-1.0))

    def test_write_read_round_trip(self, tmp_path):
        p = str(tmp_path / "rt.arpa")
        write_arpa(
            p,
            {
                1: {("<unk>",): (-2.0,), ("x",): (-0.5, -0.25), ("</s>",): (-1.0,)},
                2: {("x", "x"): (-0.125,)},
            },
        )
        lm = ArpaLM(p)
        assert lm.probs[("x", "x")] == -0.125
        assert lm.backoffs[("x",)] == -0.25
        assert sniff_model_format(p) == "arpa"

    def test_missing_unk_rejected(self, tmp_path):
        p = str(tmp_path / "nounk.arpa")
        write_arpa(p, {1: {("x",): (-0.5,), ("</s>",): (-1.0,)}})
        with pytest.raises(ValueError, match="<unk>"):
            ArpaLM(p)


class TestDispatch:
    def test_construct_model_sniffs_formats(self, tmp_path):
        from fineweb_domain_analyzer_spark.operators.quality import _construct_model

        ft = _construct_model("langid", _mk_langid(tmp_path))
        assert isinstance(ft, PureFastTextSupervised)
        lm = _construct_model("kenlm", os.path.join(ART, "tiny_unigram.arpa"))
        assert isinstance(lm, ArpaLM)

    def test_unrecognized_artifact_raises_not_degrades(self, tmp_path):
        from fineweb_domain_analyzer_spark.operators.quality import _construct_model

        p = tmp_path / "junk.model"
        p.write_bytes(b"\x01\x02\x03garbage")
        with pytest.raises(RuntimeError, match="neither a fastText .bin nor an ARPA LM"):
            _construct_model("langid", str(p))


class TestSparkEndToEnd:
    def test_fixture_artifacts_drive_udfs(self, spark):
        from fineweb_domain_analyzer_spark.operators.quality import (
            langid_udf_for,
            perplexity_udf_for,
            register_model_artifact,
        )
        from pyspark.sql import functions as F

        register_model_artifact(
            spark, "langid_fx_t", os.path.join(ART, "langid_marker.bin")
        )
        register_model_artifact(
            spark, "kenlm_fx_t", os.path.join(ART, "tiny_unigram.arpa")
        )
        # idempotent re-registration of identical bytes
        register_model_artifact(
            spark, "kenlm_fx_t", os.path.join(ART, "tiny_unigram.arpa")
        )
        texts = ["table scan join", "stream batch", "the a data", "mystery words"]
        df = spark.createDataFrame([(t,) for t in texts], ["text"])
        rows = (
            df.select(
                "text",
                langid_udf_for("langid_fx_t")(F.col("text")).alias("lab"),
                F.round(perplexity_udf_for("kenlm_fx_t")(F.col("text")), 4).alias("ppl"),
            )
            .orderBy("text")
            .collect()
        )
        got = {r["text"]: (r["lab"], r["ppl"]) for r in rows}
        assert got["table scan join"][0] == "db"
        assert got["stream batch"][0] == "flow"
        assert got["the a data"][0] == "gen"
        assert got["mystery words"][0] == "db"
        # unigram ARPA by hand: the(-0.5)+a(-0.75)+data(-1.0)+eos(-1.0) over 4
        assert got["the a data"][1] == round(10 ** (3.25 / 4), 4)
        assert got["mystery words"][1] == round(10 ** ((2.5 + 2.5 + 1.0) / 3), 4)

    def test_wrong_interface_raises_clearly(self, spark):
        from fineweb_domain_analyzer_spark.operators.quality import (
            perplexity_udf_for,
            register_model_artifact,
        )
        from pyspark.sql import functions as F
        from py4j.protocol import Py4JJavaError

        register_model_artifact(
            spark, "langid_fx_t2", os.path.join(ART, "langid_marker.bin")
        )
        df = spark.createDataFrame([("x",)], ["text"])
        with pytest.raises(Exception) as ei:
            df.select(perplexity_udf_for("langid_fx_t2")(F.col("text"))).collect()
        assert "not a perplexity LM" in str(ei.value)


class TestArtifactConflict:
    def test_re_register_different_bytes_raises(self, spark):
        """Same name + different bytes must fail HERE with the conflict
        spelled out, not later inside addFile with an obscure
        'file does not match contents' Spark error."""
        from fineweb_domain_analyzer_spark.operators.quality import (
            register_model_artifact,
        )

        register_model_artifact(
            spark, "conflict_fx", os.path.join(ART, "tiny_unigram.arpa")
        )
        with pytest.raises(ValueError, match="different bytes"):
            register_model_artifact(
                spark, "conflict_fx", os.path.join(ART, "tiny_bigram.arpa")
            )

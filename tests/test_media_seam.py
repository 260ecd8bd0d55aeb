"""Media-decode seam tests (VERDICT r3 item 7): the ``m_*`` stages must
accept an injected decoder honoring the contract in
:mod:`osdocr_spark.kernels.media` — the stub is a *default implementation
of a specified interface*, not a hole.  Pins (a) a fake decoder with its
own feature schema flows through the Spark stage end-to-end, (b) the
error policy: a record the decoder rejects via ``MediaDecodeError`` keeps
its plumbing row with ``decode_ok = false`` and NULL features — never
silently dropped, and (c) a non-contract exception fails the task (a
decoder bug must not be swallowed as data).

The fake decoders are defined INSIDE the tests: cloudpickle serializes
local classes by value, mirroring how a deployment ships a codec adapter
to executors inside the ``mapInPandas`` closure (the contract's
picklability requirement)."""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from osdocr_spark.kernels.media import (  # noqa: E402
    MediaDecodeError, StubAudioDecoder, StubFrameDecoder)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def spark():
    from osdocr_spark.spark.session import get_spark
    s = get_spark(cpus=8, shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s


def _fake_frame_decoder():
    """Contract-conforming decoder with a DIFFERENT feature schema than
    the stub: one column derived from the payload, one from provenance."""
    class FakeFrameDecoder:
        def fields(self):
            return [("head_byte", "int"), ("offset_echo", "bigint")]

        def decode(self, buf: bytes, byte_offset: int) -> dict:
            return {"head_byte": buf[0], "offset_echo": byte_offset}
    return FakeFrameDecoder()


def test_injected_decoder_schema_and_values(spark):
    from osdocr_spark.ops.textstats import FRAME_STRIDE, m_frame_sample

    out = m_frame_sample(spark, SF, decoder=_fake_frame_decoder())
    assert out.columns == ["doc_id", "frame_idx", "byte_offset",
                           "head_byte", "offset_echo", "decode_ok"]
    rows = out.limit(200).collect()
    assert rows
    for r in rows:
        assert r.offset_echo == r.frame_idx * FRAME_STRIDE == r.byte_offset
        assert 0 <= r.head_byte <= 255
        assert r.decode_ok is True


def test_stub_and_injected_plumbing_identical(spark):
    """Swapping the decoder must not change the plumbing rows (doc_id,
    frame_idx, byte_offset): the seam is feature-only."""
    from osdocr_spark.ops.textstats import m_frame_sample

    keys = ["doc_id", "frame_idx", "byte_offset"]
    stub = {tuple(r) for r in
            m_frame_sample(spark, SF, decoder=StubFrameDecoder())
            .select(*keys).collect()}
    fake = {tuple(r) for r in
            m_frame_sample(spark, SF, decoder=_fake_frame_decoder())
            .select(*keys).collect()}
    assert stub == fake and stub


def test_decode_error_keeps_row_with_nulls(spark):
    from osdocr_spark.ops.textstats import m_frame_sample

    class RejectingFrameDecoder:
        """Rejects frames whose payload head byte is odd — a
        data-dependent "corrupt record" predicate (frame offsets won't do:
        sf0.001 docs are shorter than one stride, so every frame is
        frame 0)."""
        def fields(self):
            return [("head_byte", "int")]

        def decode(self, buf: bytes, byte_offset: int) -> dict:
            if buf[0] % 2 == 1:
                raise MediaDecodeError(f"corrupt frame at {byte_offset}")
            return {"head_byte": buf[0]}

    base = m_frame_sample(spark, SF, decoder=StubFrameDecoder())
    out = m_frame_sample(spark, SF, decoder=RejectingFrameDecoder())
    # error policy never drops a row: same plumbing cardinality as the stub
    assert out.count() == base.count()
    rows = out.collect()
    bad = [r for r in rows if not r.decode_ok]
    good = [r for r in rows if r.decode_ok]
    assert bad and good
    # rejected records keep plumbing, NULL the features
    assert all(r.head_byte is None and r.doc_id is not None for r in bad)
    assert all(r.head_byte is not None and r.head_byte % 2 == 0 for r in good)


def test_non_contract_exception_fails_task(spark):
    from pyspark.errors import PythonException
    from osdocr_spark.ops.textstats import m_frame_sample

    class BuggyFrameDecoder:
        def fields(self):
            return [("head_byte", "int")]

        def decode(self, buf: bytes, byte_offset: int) -> dict:
            raise ValueError("decoder bug")

    out = m_frame_sample(spark, SF, decoder=BuggyFrameDecoder())
    with pytest.raises(PythonException, match="decoder bug"):
        out.collect()


def test_audio_seam_injection(spark):
    """The audio stage shares the seam: an injected decoder's features
    replace the stub's, plumbing (overlapping-window offsets) unchanged."""
    from osdocr_spark.ops.textstats import AUDIO_HOP, m_audio_chunks

    class FakeAudio:
        def fields(self):
            return [("rms_stub", "double")]

        def decode(self, buf: bytes, byte_offset: int) -> dict:
            return {"rms_stub": (sum(b * b for b in buf) / len(buf)) ** 0.5}

    out = m_audio_chunks(spark, SF, decoder=FakeAudio())
    assert out.columns == ["doc_id", "chunk_idx", "byte_offset", "n_bytes",
                           "rms_stub", "decode_ok"]
    rows = out.limit(100).collect()
    assert rows
    for r in rows:
        assert r.byte_offset == r.chunk_idx * AUDIO_HOP
        assert r.rms_stub > 0 and r.decode_ok is True
    # plumbing cardinality matches the default stub
    assert out.count() == m_audio_chunks(
        spark, SF, decoder=StubAudioDecoder()).count()


# ------------------------------------------------------------ real decoder
# Round 5 (VERDICT r4 item 4): the WAV/PCM adapter is a REAL decoder in the
# stub's seat — same contract tests, genuine parsing.

def test_wav_decoder_roundtrip_exact():
    """text → WAV → decode recovers sample count, rate and the exact RMS
    the synthesis math predicts (integer square-sum, then one IEEE sqrt)."""
    import numpy as np

    from osdocr_spark.kernels.media import (WAV_HEADER_BYTES, WAV_RATE,
                                            WavPcmDecoder, text_to_wav)
    text = "The quick brown fox jumps over the lazy dog 0123456789"
    wav = text_to_wav(text)
    assert len(wav) == WAV_HEADER_BYTES + 2 * len(text)
    got = WavPcmDecoder().decode(wav, 0)
    pcm = (np.frombuffer(text.encode(), dtype=np.uint8).astype(np.int64) - 64) * 128
    assert got["n_samples"] == len(text)
    assert got["sample_rate"] == WAV_RATE
    assert got["rms"] == float(np.sqrt((pcm * pcm).sum() / len(pcm)))


def test_wav_decoder_error_taxonomy():
    """Malformed payloads raise MediaDecodeError and ONLY that: truncated
    header, non-RIFF bytes, empty payload, and a data section shorter than
    the declared frame count."""
    from osdocr_spark.kernels.media import (MediaDecodeError, WavPcmDecoder,
                                            text_to_wav)
    dec = WavPcmDecoder()
    wav = text_to_wav("hello world wav fixture")
    for bad in (wav[:20],                      # header cut mid-RIFF
                b"not a riff container",       # wrong magic
                b"",                           # empty
                wav[:-6]):                     # PCM section truncated
        with pytest.raises(MediaDecodeError):
            dec.decode(bad, 0)
    # fields() constant across calls (plan-time schema contract)
    assert dec.fields() == dec.fields() == [
        ("n_samples", "bigint"), ("sample_rate", "int"), ("rms", "double")]


def test_wav_meta_stage_end_to_end(spark):
    """The m_wav_meta stage: real decode on the happy path, error-policy
    rows (decode_ok=false, NULL features, plumbing kept) on the
    deterministic corrupt subset — nothing dropped."""
    import duckdb

    from osdocr_spark.ops.textstats import WAV_CORRUPT_MOD, m_wav_meta

    out = m_wav_meta(spark, SF).collect()
    n_docs = duckdb.sql(
        f"select count(*) from '{SF}/documents.parquet'").fetchone()[0]
    assert len(out) == n_docs  # corrupt rows kept, never dropped
    bad = [r for r in out if not r.decode_ok]
    assert bad and all(r.doc_id % WAV_CORRUPT_MOD == 0 for r in bad)
    assert all(r.n_samples is None and r.rms is None and r.n_bytes == 20
               for r in bad)
    good = [r for r in out if r.decode_ok]
    assert all(r.doc_id % WAV_CORRUPT_MOD != 0 for r in good)
    assert all(r.sample_rate == 8000 and r.n_samples > 0 and r.rms > 0
               for r in good)


def test_wav_meta_oracle_keeps_empty_text(spark, tmp_path):
    """An empty text renders a header-only WAV (44 bytes, no samples,
    rms 0.0); the oracle keeps that row too, so engine and oracle agree
    on a corpus holding one empty and one non-empty text."""
    import duckdb

    from harness import compare
    from osdocr_spark.ops.textstats import ORACLES, WAV_CORRUPT_MOD, m_wav_meta

    assert 1 % WAV_CORRUPT_MOD and 2 % WAV_CORRUPT_MOD
    duckdb.sql(
        "COPY (SELECT * FROM (VALUES (1::BIGINT, '', 'en', 'fixture', 0::BIGINT),"
        " (2::BIGINT, 'Hello world', 'en', 'fixture', 11::BIGINT))"
        " t(doc_id, text, lang, source, n_chars))"
        f" TO '{tmp_path}/documents.parquet' (FORMAT parquet)")
    con = duckdb.connect()
    con.execute("CREATE VIEW documents AS SELECT * FROM "
                f"'{tmp_path}/documents.parquet'")
    oracle = con.sql(ORACLES["m_wav_meta"]).df()
    res = compare(m_wav_meta(spark, str(tmp_path)), oracle)
    assert res["rows"] == 2 and all(
        res[k] for k in ("cols_match", "count_match", "values_match")), res
    empty = oracle[oracle.doc_id == 1].iloc[0]
    assert (empty.n_bytes, empty.n_samples, empty.rms) == (44, 0, 0.0)

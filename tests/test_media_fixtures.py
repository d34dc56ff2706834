"""Pinned payload bytes of every media fixture builder, and pinned
decoded output of every codec over them.

Each payload digest is the sha256 over the per-payload sha256 digests
of ``build(doc_id)`` for doc_id 0..199, in order.  The values were
recorded from the nested ``mapInPandas`` generators the builders
replaced, so a match certifies that every multimodal catalog entry
still decodes byte-identical fixtures.  Each decoded digest covers the
codec's output (pixels, shape and channel count; for WAV the rate,
channel count and samples) for the same payloads and three truncations
of each, so the ``None`` paths are pinned too.  No Spark session
needed.
"""

from __future__ import annotations

import hashlib

import pytest

from financial_data_stream_processing_engine_spark.operators import multimodal
from financial_data_stream_processing_engine_spark.plans import media_fixtures

DIGESTS = {
    "png_4x4": "9330fa7878199755a65ec9b16079a0d33173610a07deeb6e938f65c3b0ab8e5a",
    "png_adam7": "98746acd40b8888bd46a07ce2eda404d3dd3ce12a89c31eba01c5111920b55fe",
    "png_4bit": "30c45a91506864eb4669f79aed757a50ffdfad159af43a1361764efd3bb99736",
    "png_16bit": "99cf84ce3d1ee93cadd7a711f0f27c78b7f2175ef8877275fff923af39bbb20b",
    "png_phash": "95926054047c1c02153962984ac1ccbd314a40a2fc00df6f8de6a593fb46090c",
    "gif": "8d57229032fb6990f6ced656a271f72a1880a73241c16184a770bd50a79c97ed",
    "bmp": "260b55729e2bc63ff7c42bed2be564480cf479c32d65109e07192038fcc2d2a9",
    "tiff": "c3062d216cad93ce32bc138f5ef1fbeb4e926767c960fcf9b7d309f04ebdc45c",
    "jpeg": "7aafaf81317d49bfc96cbaff0327760c357596802cd8e6086d89f2293ae5902d",
    "jpeg_progressive": "836c2f824f99970f0f52149a3a4b789a68c752a23adb6a8f419b361c1209563b",
    "jpeg_restart": "825537b04a546654fca5c54c7a16e8cd43598fe0b97052b7b92d343ebd5e6566",
    "jpeg_color": "7e9c96d6aadfb264bcccc4a4b68b59f36b3de72c972671d1e7dc8f3d5f5b72c6",
    "jpeg_420": "3df8ea1a7663cba216991e65cd222fadda34b60a5ae3a668cbef3cb9df5ba9f3",
    "wav": "d6cb292edfe6de0b0005d8fb2ab981a7a3f2b08377728afea25b6783b9c623e9",
    "wav_stft": "5f8120da86f47eb7f1717ecb6b47d1cdf407fcc59b65bfdf6f48b8bc2a1956c3",
    "wav_ulaw": "a535ed75d7910294adec3a32cb4f60549ae5bfaee6b8fafea4656fafea21f05c",
    "mjpeg_avi": "259e8764fdeda327117d54ea4b86447dfafe368f8c2dfd1aa6d6fb542e13fbac",
}


@pytest.mark.parametrize("builder", sorted(DIGESTS))
def test_builder_payloads_are_pinned(builder):
    build = getattr(media_fixtures, builder)
    h = hashlib.sha256()
    for doc_id in range(200):
        h.update(hashlib.sha256(build(doc_id)).digest())
    assert h.hexdigest() == DIGESTS[builder]


def test_payload_batches_keep_doc_ids_and_order():
    import pandas as pd

    batches = [pd.DataFrame({"doc_id": [3, 1]}), pd.DataFrame({"doc_id": [7]})]
    out = list(media_fixtures._payload_batches(media_fixtures.wav, iter(batches)))
    assert [list(f["doc_id"]) for f in out] == [[3, 1], [7]]
    assert list(out[0]["payload"]) == [media_fixtures.wav(3), media_fixtures.wav(1)]


# ---------------------------------------------------------------------------
# decoded output of every fixture, whole and truncated
# ---------------------------------------------------------------------------

#: builder → the codec that decodes its payloads (the MJPEG AVI's
#: ``00dc`` frame chunks go through the JPEG codec)
CODEC_OF = {
    **{b: "png" for b in ("png_4x4", "png_adam7", "png_4bit", "png_16bit", "png_phash")},
    **{b: "jpeg" for b in ("jpeg", "jpeg_progressive", "jpeg_restart", "jpeg_color", "jpeg_420")},
    "gif": "gif",
    "bmp": "bmp",
    "tiff": "tiff",
    **{b: "wav" for b in ("wav", "wav_stft", "wav_ulaw")},
    "mjpeg_avi": "jpeg",
}

#: sha256 over the decoded output of every payload and three of its
#: truncations, for doc_id 0..199; recorded from each builder's codec
#: (the decoder factories the module-level codecs replaced).  Image
#: payloads decode through ``decode_image`` here, so a match also pins
#: the magic-byte dispatch to that codec.
DECODED_DIGESTS = {
    "bmp": "7929383c22670fd667208219655b65f91e083016e4db2ac21b443509f6a44310",
    "gif": "9831372afb15bec5c223c27a118c3d33e8a46f1593cda18fe48e1956ae8d224d",
    "jpeg": "de9dacede9c2f7164f2ffd34770d5e054f1efbd9bc3e70338b4f0b459c2ef27e",
    "jpeg_420": "0b00714786c8872dbd19623c91175b8cbfc155046c7a017ea7d541a3532fd0e2",
    "jpeg_color": "9602d6a4f4818851141774f878789b1042c72ca98fd066ebe2fc51561e431399",
    "jpeg_progressive": "de9dacede9c2f7164f2ffd34770d5e054f1efbd9bc3e70338b4f0b459c2ef27e",
    "jpeg_restart": "de9dacede9c2f7164f2ffd34770d5e054f1efbd9bc3e70338b4f0b459c2ef27e",
    "mjpeg_avi": "ddc84fe73c39cf4eb411a31581d8a3e7631ceb183f06061b7b597d0fcef10e20",
    "png_16bit": "a808cf2d7129ad87e9a1f6d05e7df38f8061bf97b1a48ebd79d8e621a4f7aa24",
    "png_4bit": "96144e8e8f7aa7056c3ba255f46b89fa0086342b27859873a355384bdb8d26b9",
    "png_4x4": "0f0a25d06661c01bebeff46d6ea688f0ac675f440069fc284f8c620bb5bae7c7",
    "png_adam7": "92dce4cfcc51442ae052368e9d1670db167388db261754042bf7a0f9800350f1",
    "png_phash": "a0bba327e322f498c43944505229d09d7bf8c7a95a35d181a53457f27bb0c15e",
    "tiff": "2dc0cf69769a5586cdb20673b189b8cabc8be057817122ede5974ee9bd1a4902",
    "wav": "c946a50011268e899368c6ea73d3d813d032d6cdf2895f3bdc7db78ae1571435",
    "wav_stft": "3e07c3986c0a564519fb2876c11d5ff646aa208d9e96889b384a8e788900cbea",
    "wav_ulaw": "512feab56534ad8b5a65468e05c947bed8865f3e0b71ac7e0e9d278e76962b85",
}


def _decoder(codec):
    return multimodal.decode_wav if codec == "wav" else multimodal.decode_image


def _avi_frames(payload):
    """The ``00dc`` chunk bodies of a fixture AVI, cut short where the
    payload is."""
    at = payload.find(b"00dc")
    while at >= 0:
        n = int.from_bytes(payload[at + 4 : at + 8], "little")
        yield payload[at + 8 : at + 8 + n]
        at = payload.find(b"00dc", at + 8 + n)


def _decoded_record(dec) -> bytes:
    if dec is None:
        return b"None"
    if len(dec) == 3:  # WAV: (rate, nch, samples)
        rate, nch, samples = dec
        return repr((rate, nch, samples.dtype.str, samples.shape)).encode() + samples.tobytes()
    px, nch = dec
    return repr((px.dtype.str, px.shape, nch)).encode() + px.tobytes()


@pytest.mark.parametrize("builder", sorted(CODEC_OF))
def test_decoded_fixtures_are_pinned(builder):
    build = getattr(media_fixtures, builder)
    decode = _decoder(CODEC_OF[builder])
    h = hashlib.sha256()
    for doc_id in range(200):
        payload = build(doc_id)
        n = len(payload)
        for cut in (payload, payload[: n // 4], payload[: n // 2], payload[: n - 1]):
            parts = list(_avi_frames(cut)) if builder == "mjpeg_avi" else [cut]
            for part in parts:
                h.update(hashlib.sha256(_decoded_record(decode(part))).digest())
            h.update(b"|")
    assert h.hexdigest() == DECODED_DIGESTS[builder]

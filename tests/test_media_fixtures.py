"""Pinned payload bytes of every media fixture builder.

Each digest is the sha256 over the per-payload sha256 digests of
``build(doc_id)`` for doc_id 0..199, in order.  The values were
recorded from the nested ``mapInPandas`` generators the builders
replaced, so a match certifies that every multimodal catalog entry
still decodes byte-identical fixtures.  No Spark session needed.
"""

from __future__ import annotations

import hashlib

import pytest

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

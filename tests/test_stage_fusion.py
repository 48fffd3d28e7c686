"""Stage fusion: every blob-explode entry point and the real-media
featurizers accept a ``pre=`` batch transformer fused into their
single mapInPandas stage (``sources.blobs.map_batches``), and
webdataset exposes its explode core as ``wds_sample_batches``. These
tests pin the contract fusion relies on — the fused form produces
row-identical output to the two-stage chain — at the operator level,
independent of the registered queries' oracle checks.

(Synthesizers are closures built inside functions so cloudpickle
ships them by value; a module-level def in an unimportable test
module would be pickled by reference and fail on executors.)"""

from __future__ import annotations

import io
import wave
from functools import partial

import numpy as np
import pandas as pd
import pytest

from ccgp_data_wrangling_spark.operators.audiomatch import audio_constellation
from ccgp_data_wrangling_spark.operators.media_codecs import (
    encode_gif_animated,
)
from ccgp_data_wrangling_spark.operators.multimodal import (
    extract_real_features,
    sample_frames_gif,
)
from ccgp_data_wrangling_spark.sources.doc import build_doc, doc_documents
from ccgp_data_wrangling_spark.sources.docx import build_docx, docx_documents
from ccgp_data_wrangling_spark.sources.epub import build_epub, epub_documents
from ccgp_data_wrangling_spark.sources.html import build_html, html_documents
from ccgp_data_wrangling_spark.sources.odp import build_odp, odp_documents
from ccgp_data_wrangling_spark.sources.ods import build_ods, ods_documents
from ccgp_data_wrangling_spark.sources.odt import build_odt, odt_documents
from ccgp_data_wrangling_spark.sources.pdf import build_pdf, pdf_documents
from ccgp_data_wrangling_spark.sources.pptx import build_pptx, pptx_documents
from ccgp_data_wrangling_spark.sources.rtf import build_rtf, rtf_documents
from ccgp_data_wrangling_spark.sources.warc import build_warc, warc_records
from ccgp_data_wrangling_spark.sources.webdataset import (
    WDS_SAMPLE_SCHEMA,
    build_wds_shard,
    wds_sample_batches,
    wds_samples,
)


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _wav(d):
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(1)
        wf.setsampwidth(2)
        wf.setframerate(8000)
        t = np.arange(256 * 4)
        sig = np.sin(t * (d + 2) / 9) * 8000
        wf.writeframes(sig.astype("<i2").tobytes())
    return buf.getvalue()


def _wds_samples_fused(df, pre=None):
    """wds_samples takes no ``pre``: its fused form is the batch core
    composed behind ``pre`` in one stage, as the llm_scale queries do."""
    if pre is None:
        return wds_samples(df)
    return df.mapInPandas(
        lambda it: wds_sample_batches(pre(it)), schema=WDS_SAMPLE_SCHEMA
    )


# (entry point, id column, payload for id d) per explode site; the
# payload builders run on the driver only
_SITES = {
    "docx": (docx_documents, "doc_id", lambda d: build_docx([f"p {d}", "t"])),
    "doc": (doc_documents, "doc_id", lambda d: build_doc([f"p {d}", "t"])),
    "odt": (odt_documents, "doc_id", lambda d: build_odt([f"p {d}", "t"])),
    "odp": (
        odp_documents, "doc_id", lambda d: build_odp([[[f"p {d}"], ["t"]]]),
    ),
    "ods": (
        ods_documents, "doc_id",
        lambda d: build_ods([("S", [[f"c {d}", float(d)], [None, "x"]])]),
    ),
    "epub": (
        epub_documents, "doc_id", lambda d: build_epub([[f"p {d}"], ["t"]]),
    ),
    "html": (
        html_documents, "doc_id",
        lambda d: build_html(f"T{d}", [f"p {d}", "t"]),
    ),
    "rtf": (rtf_documents, "doc_id", lambda d: build_rtf([f"p {d}", "t"])),
    "pptx": (
        pptx_documents, "doc_id", lambda d: build_pptx([[f"p {d}"], ["t"]]),
    ),
    "pdf": (
        pdf_documents, "doc_id",
        lambda d: build_pdf([[f"page for {d}", f"tail {d % 3}"]]),
    ),
    "warc": (
        warc_records, "archive_id",
        lambda d: build_warc(
            [
                {"warc_type": "request", "payload": b"GET /"},
                {
                    "warc_type": "response",
                    "target_uri": f"http://x/{d}",
                    "body": f"<p>page {d}</p>".encode(),
                },
            ]
        ),
    ),
    "wds": (
        _wds_samples_fused, "shard_id",
        lambda d: build_wds_shard(
            [(f"{d}-{j}", {"cls": str(d + j).encode()}) for j in range(2)]
        ),
    ),
    "gif": (
        partial(sample_frames_gif, every_sec=0.2), "id",
        lambda d: encode_gif_animated(
            [np.full((2, 3, 3), 10 * d + k, np.uint8) for k in range(3)],
            delays_cs=[10, 10, 10],
        ),
    ),
    "audio": (audio_constellation, "id", _wav),
}


def _synth(blobs, id_col, extra=False):
    """Batch synthesizer: payloads precomputed on the driver, looked
    up by id on the executor (a closure, so cloudpickle ships it by
    value)."""

    def synth(batches):
        for pdf in batches:
            ids = pdf[id_col].values
            out = {id_col: ids, "payload": [blobs[int(d)] for d in ids]}
            if extra:
                out["extra"] = ids
            yield pd.DataFrame(out)

    return synth


@pytest.mark.parametrize("site", list(_SITES))
def test_explode_pre_matches_chained(spark, site):
    entry, id_col, make = _SITES[site]
    synth = _synth({d: make(d) for d in range(4)}, id_col)
    ev = spark.range(4).selectExpr(f"id AS {id_col}")
    chained = entry(
        ev.mapInPandas(synth, schema=f"{id_col} long, payload binary")
    )
    fused = entry(ev, pre=synth)
    assert _rows(fused) == _rows(chained)
    assert _rows(fused)


def test_extract_real_features_pre_matches_chained(spark):
    def synth(batches):
        for pdf in batches:
            payloads = [
                b"P5\n4 2\n255\n" + bytes([int(i) % 200 + 10] * 8)
                for i in pdf["id"]
            ]
            yield pd.DataFrame(
                {
                    "id": pdf["id"].values,
                    "payload": payloads,
                    "media_type": "image/pgm",
                }
            )

    ev = spark.range(10)
    chained = extract_real_features(
        ev.mapInPandas(
            synth,
            schema="id long, payload binary, media_type string",
        )
    )
    fused = extract_real_features(ev, pre=synth)
    assert _rows(fused) == _rows(chained)
    assert len(_rows(fused)) == 10


def test_wds_sample_batches_composes_like_wds_samples(spark):
    """Triple-stage fusion core: synth -> wds_sample_batches in one
    stage must explode identically to synth stage -> wds_samples."""

    def synth(batches):
        for pdf in batches:
            payloads = []
            for sid in pdf["shard_id"]:
                s = int(sid)
                payloads.append(
                    build_wds_shard(
                        [
                            (
                                f"{s}-{j}",
                                {
                                    "pgm": b"P5\n2 2\n255\n"
                                    + bytes([s % 99 + j] * 4),
                                    "cls": str((s + j) % 5).encode(),
                                },
                            )
                            for j in range(2)
                        ]
                    )
                )
            yield pd.DataFrame(
                {"shard_id": pdf["shard_id"].values, "payload": payloads}
            )

    ev = spark.range(6).selectExpr("id AS shard_id")
    chained = wds_samples(
        ev.mapInPandas(synth, schema="shard_id long, payload binary")
    ).select("shard_id", "sample_key", "n_parts")
    fused = ev.mapInPandas(
        lambda it: (
            pdf[["shard_id", "sample_key", "n_parts"]]
            for pdf in wds_sample_batches(synth(it))
        ),
        schema="shard_id long, sample_key string, n_parts int",
    )
    assert _rows(fused) == _rows(chained)
    assert len(_rows(fused)) == 12  # 6 shards x 2 samples


@pytest.mark.parametrize("site", list(_SITES))
def test_pre_is_off_by_default(spark, site):
    """Without pre=, the operators still select-narrow their input
    (the original contract): extra columns are tolerated."""
    entry, id_col, make = _SITES[site]
    synth = _synth({d: make(d) for d in range(3)}, id_col, extra=True)
    ev = spark.range(3).selectExpr(f"id AS {id_col}")
    media = ev.mapInPandas(
        synth, schema=f"{id_col} long, payload binary, extra long"
    )
    out = _rows(entry(media))
    assert out == _rows(entry(media.drop("extra")))
    assert out

"""Seeded inputs for the extract-raster workload.

Documents and media rows are plain dicts in the shapes of
``DOCUMENTS_SCHEMA`` and ``MEDIA_SCHEMA``. Generation runs in a spawn
pool because rendering pages is pure-Python CPU work; the pool is only
alive during set-up.
"""

from __future__ import annotations

from perfbench import spec


def _doc_records(args: tuple[int, list[int]]) -> tuple[list[dict], list[dict]]:
    from pero_ocr_api_spark.corpus import doc_record

    seed, idxs = args
    docs, media = [], []
    for idx in idxs:
        d, m = doc_record(seed, idx)
        docs.append(d)
        media.extend(m)
    return docs, media


def raster_corpus(pool, seed: int) -> tuple[list[dict], list[dict]]:
    idxs = list(range(spec.RASTER_DOCS))
    docs, media = [], []
    for d, m in pool.map(_doc_records, [(seed, idxs[i::16]) for i in range(16)]):
        docs.extend(d)
        media.extend(m)
    docs.sort(key=lambda d: d["doc_id"])
    media.sort(key=lambda m: m["media_ref"])
    return docs, media

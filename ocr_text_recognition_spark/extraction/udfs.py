"""Arrow-batched pandas UDFs — the engine's entire Python surface.

Per the north rule (BASELINE.json:15) there is NO per-row Python at the
Spark level: both UDFs are scalar-iterator pandas UDFs, so data crosses the
JVM/Python boundary in Arrow record batches and the expensive engine state
(the glyph atlas / template caches — stand-ins for the reference's EasyOCR
weights loaded once per process, /root/reference/src/model/ocr_model.py:26-31)
is initialized lazily once per executor and reused across batches.

Boundary cost. Most of the in-Spark vs standalone gap per ref was a fixed
per-task cost, not Arrow. PySpark's worker calls
``importlib.invalidate_caches()`` at the start of every task
(``pyspark/worker_util.py``, ``setup_spark_files``). On CPython < 3.12 that
makes each of a worker's 16 zipimporters (12 over pyspark.zip, 2 over
py4j, 2 over the spark-core jar) re-read its archive's central directory:
205-298 ms per task, measured inside a worker on a 4-core host (CPython
3.11.7, Spark 4.1.2). This is CPython gh-103200; 3.12 made the re-read
lazy. Unpickling any UDF here imports the package, whose ``__init__``
installs that lazy behaviour (``zipimport_compat``), so a worker pays the
cost on its first task only. Traced perfbench runs on that host (seeds 7
and 8) moved ``udfs.boundary_ms_per_ref`` from 3.50 and 3.81 ms to 1.33 and
1.06 ms on shared_refs_skewed, and from 3.99 and 3.57 ms to 1.44 and 1.15 ms
on ocr_mixed.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType

_ENGINE = None


def _engine():
    """Per-executor lazy singleton. Importing the kernel touches the cached
    glyph atlas/template tables exactly once per Python worker process."""
    global _ENGINE
    if _ENGINE is None:
        from ocr_text_recognition_spark.extraction import html
        from ocr_text_recognition_spark.kernel import reference_kernel

        from ocr_text_recognition_spark.extraction import pdflayout

        # Warm the template caches so the first batch isn't an outlier.
        from ocr_text_recognition_spark.kernel.recognize import _exact_lookup, _template_tensor

        _template_tensor()
        _exact_lookup()
        _ENGINE = (
            html.extract_main_text,
            reference_kernel.recognize_media_bytes,
            pdflayout.extract_pdf_text,
        )
    return _ENGINE


@pandas_udf(StringType())
def extract_main_text_udf(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
    """HTML-ish text span -> main content (boilerplate strip + text density)."""
    extract, _, _ = _engine()
    for s in batches:
        yield s.map(lambda x: extract(x) if x is not None else "")


@pandas_udf(StringType())
def recognize_media_udf(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
    """Media payload bytes -> recognized text (full preprocessing +
    segmentation + greedy decode per image, vectorized numpy inside)."""
    _, recognize, _ = _engine()
    for s in batches:
        yield s.map(lambda b: recognize(b) if b is not None else "")


@pandas_udf(StringType())
def parse_pdf_layout_udf(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
    """PDF-ish page payload -> main text (furniture strip, fine-print drop,
    y-gap line grouping, reading order — extraction/pdflayout.py)."""
    _, _, parse_pdf = _engine()
    for s in batches:
        yield s.map(parse_pdf)


def make_extract_ref_udf(**preprocess_kwargs):
    """Build the (kind, payload) -> text dispatch UDF with optional kernel
    preprocessing overrides (binarizer='adaptive', adaptive_block=...,
    rotate_portrait=True — see kernel.reference_kernel.preprocess_image).
    The kwargs are captured in the closure and shipped to executors via
    cloudpickle, so a photographed/scanned deployment selects the adaptive
    threshold without touching the pipeline code."""

    @pandas_udf(StringType())
    def _extract_ref_udf(
        batches: Iterator[tuple[pd.Series, pd.Series]],
    ) -> Iterator[pd.Series]:
        _, recognize, parse_pdf = _engine()
        for kinds, payloads in batches:
            out = []
            for kind, payload in zip(kinds, payloads):
                if payload is None:
                    out.append("")
                elif kind == "pdf":
                    out.append(parse_pdf(payload))
                else:
                    out.append(recognize(payload, **preprocess_kwargs))
            yield pd.Series(out, dtype="object")

    return _extract_ref_udf


# Default instance (Otsu chain): (kind, payload) -> text, dispatching per
# span kind inside the batch: 'media' through the OCR kernel, 'pdf'
# through the layout parser. Lets media and pdf spans share ONE
# distinct-ref pass + join instead of one subtree per kind (one fewer
# documents scan, ~4 fewer stages).
extract_ref_udf = make_extract_ref_udf()

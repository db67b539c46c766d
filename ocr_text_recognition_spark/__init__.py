"""ocr_text_recognition_spark — a from-scratch, PySpark-native OCR +
main-content extraction engine.

Re-expresses the data-processing capabilities of the reference desktop app
``khanhnguyentuann/ocr-text-recognition`` (a PySide6 + OpenCV + EasyOCR
single-image pipeline, see /root/reference) as a distributed Spark job over
tables of interleaved text + media documents:

    documents(doc_id: string,
              spans: array<struct<kind:string, text:string,
                                  media_ref:string, offset:int>>)
    media(media_ref: string, content: binary)

Design (see SURVEY.md):
- All relational logic is declarative DataFrame/SQL (Catalyst-optimizable).
- The recognition kernel runs as Arrow-batched pandas UDFs — never
  per-row Python (``extraction/udfs.py``).
- The kernel itself (``kernel/``) is dependency-light pure numpy so CI is
  hermetic and the span-sequence fixtures are exact.
- Span order is reassembled explicitly via sort on ``offset`` — never by
  relying on implicit row order (the core correctness invariant).
"""

from ocr_text_recognition_spark.zipimport_compat import install_lazy_zip_invalidation

__version__ = "0.1.0"

# Every Python worker that unpickles an engine UDF imports this package, so
# from then on PySpark's per-task importlib.invalidate_caches() no longer
# re-reads pyspark.zip and the Spark jars (see zipimport_compat).
install_lazy_zip_invalidation()

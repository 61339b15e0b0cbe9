"""Pure, deterministic extraction kernels.

These are plain-Python functions over ``bytes`` — no Spark imports — so the
exact same code runs (a) single-threaded as the golden oracle and (b) inside
the Arrow-batched ``mapInArrow`` operator. Byte-identity between the two is
the correctness gate (BASELINE.json north_rule).
"""

from gemini_ocr_batch_spark.kernels.dispatch import (
    extract_document,
    extract_document_detail,
    sniff_kind,
)

__all__ = ["extract_document", "extract_document_detail", "sniff_kind"]

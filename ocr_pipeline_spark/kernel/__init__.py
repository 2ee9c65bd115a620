"""Pure-Python extraction kernel — no Spark imports allowed here.

Everything in this subpackage is a deterministic pure function so that
the Spark job's per-url output is byte-identical to a single-process
loop regardless of partitioning, batch boundaries, or parallelism
(the graft's analog of the reference's temperature=0 / seed=0 pinning,
reference src/qwen_processor.py:58,111).
"""

from ocr_pipeline_spark.kernel.cleaning import clean_text
from ocr_pipeline_spark.kernel.page import extract_page, PageResult

__all__ = ["clean_text", "extract_page", "PageResult"]

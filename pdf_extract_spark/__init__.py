"""pdf_extract_spark — a from-scratch PySpark-native extraction engine.

Re-expresses the capabilities of the reference PDF->sentence-corpus builder
(`Bushanhui/pdf_extract`, surveyed in SURVEY.md) as an idiomatic Spark
DataFrame / Arrow-UDF pipeline over tables of interleaved text+media
documents:

    (doc_id: string,
     spans:  array<struct<kind:string, text:string, media_ref:string, offset:int>>)

Design rules (SURVEY.md §7.1):
  * one pure-Python rule module (`rules.py`) is the single source of truth
    for tagging / cleanup / sentence-composition semantics; both the Spark
    UDFs and the golden-test oracle import it, so span-sequence equality is
    testable by construction;
  * everything relational is DataFrame API (Catalyst-optimised); Python is
    entered only through vectorized pandas/Arrow UDFs — never per-row UDFs,
    never RDDs;
  * scale mechanics (salting, repartitionByRange, lineage checkpointing)
    are explicit job logic, not left to chance.
"""

__version__ = "0.1.0"

from pdf_extract_spark import packaging as _packaging
from pdf_extract_spark.session import build_spark  # noqa: F401

# Must run at package import: that is the only package code a pyspark
# worker is sure to run (it unpickles our UDFs by reference). Without it
# every worker task re-reads each zip archive on sys.path (~0.2 s).
_packaging.install_zip_invalidation_guard()

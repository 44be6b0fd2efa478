"""Pure (non-Spark) extraction kernels.

Every kernel here is a plain function over Python scalars or pandas Series,
unit-testable without a SparkSession. The Spark pipeline runs
``dispatch.extract_texts`` inside ``mapInArrow`` (see
ocr_search_spark.pipeline.extract); the scalar variants in
``reference_impl`` are the golden-truth oracle for span-sequence equality.

Import the submodule you need; this package re-exports nothing, so an
extraction worker never loads the oracle.
"""

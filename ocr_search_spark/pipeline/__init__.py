"""Spark-side extraction pipeline: salting, vectorized dispatch and lineage
(``extract``), and the resumable, atomically published extraction run and
its readers (``checkpoint``).

Import the submodule you need; this package re-exports nothing, so an
extraction worker that unpickles the kernel from ``extract`` never loads
``checkpoint``.
"""

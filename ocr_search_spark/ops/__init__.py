"""Operators over stored content. On the store's paths: near-duplicate
removal (``dedup``, whose ``near_dedup_cc`` is the store's dedup path) and
the metadata map the store attaches to each document (``metadata``). Off
them: the training-data-pipeline operators (``similarity``,
``text_analysis``, ``sampling``, ``scrub``, ``classify``, ``lm``, ``dsir``,
``sketch``, ``lines``, ``compress``, ``relational``, ``events``, ``graph``,
``multimodal``).

Import the submodule you need (``from ocr_search_spark.ops import dedup``);
this package re-exports nothing, so importing one submodule loads only it
and what it imports.
"""

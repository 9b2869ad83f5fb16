"""freki_spark — a from-scratch PySpark-native reimplementation of the
pvk444/freki PDF-XML layout-analysis pipeline (extraction tier).

Layout logic (FrekiSpec v1) is implemented twice on purpose:

- ``freki_spark.oracle``   — single-node readable reference (goldens)
- ``freki_spark.kernel``   — vectorized numpy kernel that runs inside
  the pipeline's Python UDFs (``freki_spark.pipeline``: the narrow
  path's ``mapInArrow`` and the salted path's pandas stages)

Both share only ``freki_spark.spec`` (constants) and
``freki_spark.grammar`` (output-format grammar); the test suite
asserts span-for-span equality between them (SURVEY.md §5.2).
"""

__version__ = "0.1.0"

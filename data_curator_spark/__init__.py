"""data_curator_spark — a PySpark-native data curation & quality-filter engine.

Brand-new implementation (not a port) with the query and data-processing
capabilities of KaxaNuk/Data-Curator, re-expressed Spark-first:

- ``engine.columns``      null-poisoning columnar expression kernel
                          (reference: modules/data_column.py semantics)
- ``engine.features``     per-identifier window/feature library
                          (reference: features/helpers.py + calculations.py)
- ``engine.consolidate``  multi-source merge / reconciliation kernel
                          (reference: services/data_provider_toolkit.py)
- ``engine.contracts``    row-contract validation as boolean mask columns
                          (reference: entities/*.py __post_init__ checks)
- ``operators.*``         dedup / similarity / asof primitives for
                          large-scale training-data pipelines
- ``functions.calculations`` the derived-column library and its
                          dependency-resolved planner (``_closure``;
                          reference: services/column_builder.py)
- ``functions.text``      language-ID, quality scoring, tokenization,
                          fingerprinting over document corpora
- ``pipeline.*``          the north-rule quality-filter pipeline over
                          (repo, path, commit, lang, content) code corpora
- ``streaming.quality_stream`` the corpus quality filter and
                          contamination check as a Structured Streaming job
- ``queries``             the gate and legacy query registry; ``queries._t``
                          reads every testdata table with a declared schema
"""

__version__ = "0.1.0"

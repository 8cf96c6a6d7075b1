"""dcc_validate_metadata_spark — a from-scratch PySpark-native
constraint-validation + analytics engine with the query capabilities of
``FAANG/dcc-validate-metadata`` (see SURVEY.md), rebuilt Spark-first.

Subpackages
-----------
sources    : table catalogs, image+caption fixture, Iceberg IO, sheet
             ingestion, export sinks
rules      : declarative rule model compiled to vectorized Column exprs
operators  : stats / uniqueness / referential / relationships / drift /
             dedup / similarity / text
images     : pure-Python PNG codec, Arrow-batched decode invariants,
             resize + feature transforms
multimodal : audio/video binary-column plumbing (decode stubbed)
plans      : end-to-end validation pipeline + checkpoint manifest
streaming  : ingestion validation + windowed event-time stats
queries    : driver/oracle query packs, REST-search + join-tree surfaces
"""

from dcc_validate_metadata_spark import _zipimport_guard

# every Python worker that runs engine code imports this package
_zipimport_guard.install()

__version__ = "0.1.0"

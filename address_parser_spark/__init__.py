"""address_parser_spark — a PySpark-native record-linkage / entity-resolution engine.

A from-scratch, Spark-first reimplementation of the *capabilities* of
``dathuynh1108/address-parser`` (reference read-only at ``/root/reference``):
extract → normalize → resolve → cluster Vietnamese address mentions at web
scale, expressed as DataFrame programs (Catalyst-optimized,
Arrow-batched pandas UDFs only where built-ins cannot express the semantics).

Layout
------
- ``textops``    pure-Python normalization / n-gram / similarity core (no Spark)
- ``gazetteer``  reference-entity catalog: loaders, synthetic generator, node explosion
- ``functions``  Spark Column helpers + vectorized pandas UDFs (dice, minhash, scoring)
- ``operators``  blocking, pair scoring, connected components, dedup, ANN, text quality
- ``sources``    synthetic pages corpus, readers, checkpoint/lineage sinks
- ``plans``      end-to-end pipeline assembly (extract→normalize→resolve→cluster)
"""

__version__ = "0.1.0"

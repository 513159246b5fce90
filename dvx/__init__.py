"""dvx — a PySpark-native CDC / Data Vault incremental-ingest engine.

From-scratch re-expression of the semantics of
szairi2011/data-vault-modeling-etl (Scala/Spark/Iceberg "Banking Data
Vault 2.0 POC") as an idiomatic PySpark engine over conversation
transcripts:

- ``dvx.session``   SparkSession factory (AQE/CBO/Arrow/UTC).
- ``dvx.hashing``   MD5 business-key + hash-diff, vectorized pandas UDFs
                    bit-identical to the native column expressions.
- ``dvx.lake``      minimal snapshot-based ACID table format over Parquet
                    (atomic metadata-pointer commits, equality-delete
                    row changes, bucket replacement, time travel,
                    rollback, epoch dedup) — the role Iceberg plays in
                    the reference.
- ``dvx.schema``    canonical vault table schemas (hub/link/sat/pit/meta).
- ``dvx.changelog`` deterministic transcript changelog generation/derivation.
- ``dvx.apply``     core CDC batch apply (LWW dedup -> hub/link/sat merges).
- ``dvx.stream``    Structured Streaming foreachBatch runner, exactly-once.
- ``dvx.pit``       point-in-time snapshot build (incremental + full).
- ``dvx.metadata``  load_metadata lineage + per-partition metrics.
- ``dvx.evolve``    additive schema evolution.
- ``dvx.validate``  conformance invariants (BronzeValidator analogs).
- ``dvx.ops``       large-scale training-data ops: dedup (exact/minhash/
                    simhash/jaccard/cosine), ANN search, text analysis,
                    multimodal plumbing.
"""

__version__ = "0.1.0"

"""kafka_cdc_redshift_spark — a PySpark-native CDC analytics engine.

A from-scratch engine with the query/data-processing capabilities of the
reference CDC replication pipeline (yhyyz/kafka-cdc-redshift): multi-table CDC
routing, last-write-wins dedup, type conversion, schema evolution, and
transactional merge — expressed as pure ``DataFrame -> DataFrame`` operators so
the same code runs under batch (`spark.read`) and Structured Streaming
(`foreachBatch`).  Extended with large-scale data-pipeline operators
(dedup, similarity search, text analysis, multimodal columns).

Layout:
  sources/    Kafka + file readers, the CDC format table (envelope schemas,
              routing paths, op codes), changelog synthesis
  operators/  fused route+parse, dedup, merge, typeconv, schema evolution
  functions/  text analysis, text dedup (minhash/simhash/jaccard), similarity
  streaming/  foreachBatch shell: triggers, fan-out, fail-fast, sinks
  plans/      the query catalog exposed through __spark_entry__.py
"""

__version__ = "0.1.0"
